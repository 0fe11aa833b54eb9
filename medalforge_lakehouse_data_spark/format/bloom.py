"""Per-file key bloom filters for manifest-level MERGE pruning.

Why: per-file min/max is useless for a merge key that is uniformly
distributed across files (e.g. image_id after the table was clustered
by phash — every file spans the whole id range, so a trickle merge
rewrites the entire table; round-1 VERDICT #3). A small bloom of each
file's key set lets the merge planner keep only files that MAY contain
a source key; false positives only keep extra files, never lose rows.

Design:
  * Kirsch-Mitzenmacher double hashing: bit index_i = h1 + i*h2 mod m.
  * 64-bit value hashes: splitmix64 over int64 columns (vectorized
    numpy), crc32 hi/lo over stringified values otherwise.
  * Blooms live in manifest JSON (base64). That is the right place for
    bounded file sizes; it is size-capped (``stats.BLOOM_MAX_BYTES``,
    128 KiB) because a 10^6-row file at 16 bits/key would bloat
    manifests to MBs — such files simply skip the bloom and fall back to
    range pruning.

Enable per table with the property ``bloom.columns = "image_id"``
(comma list); every bloom uses ``stats.BLOOM_BITS_PER_KEY`` = 16 bits
per key (fpp ≈ 0.6185^bits ≈ 5e-4).
"""

from __future__ import annotations

import base64
import zlib

import numpy as np


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set)."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


_INT64_MIN_F = -9.223372036854776e18
_INT64_MAX_F = 9.223372036854776e18


def _hash_str_values(arr: np.ndarray) -> np.ndarray:
    out = np.empty(len(arr), dtype=np.uint64)
    for i, v in enumerate(arr):
        b = str(v).encode("utf-8", "ignore")
        hi = zlib.crc32(b)
        lo = zlib.crc32(b, 0xFFFFFFFF)
        out[i] = (np.uint64(hi) << np.uint64(32)) | np.uint64(lo)
    return _splitmix64(out)


def hash_values(values) -> np.ndarray:
    """64-bit hashes of a value sequence (numpy fast-path for ints).

    Float handling is decided PER VALUE, not per array: an integral
    float (an int column that went through a null-bearing pandas
    round-trip) hashes like the int64 it denotes no matter what other
    values share the array. A per-array decision would make a mixed
    integral/fractional build str-hash its integral keys while an
    all-integral probe set splitmix-hashes them — bloom false
    negatives, i.e. silent merge mis-pruning.
    """
    arr = np.asarray(values)
    if arr.dtype.kind in ("i", "u"):
        return _splitmix64(arr.astype(np.int64).view(np.uint64))
    if arr.dtype.kind == "f":
        with np.errstate(invalid="ignore"):
            integral = (np.isfinite(arr) & (arr == np.floor(arr))
                        & (arr >= _INT64_MIN_F) & (arr < _INT64_MAX_F))
        out = np.empty(len(arr), dtype=np.uint64)
        if integral.any():
            out[integral] = _splitmix64(
                arr[integral].astype(np.int64).view(np.uint64))
        rest = ~integral
        if rest.any():
            out[rest] = _hash_str_values(arr[rest])
        return out
    return _hash_str_values(arr)


def _indices(h64: np.ndarray, k: int, m: int) -> np.ndarray:
    """(N, k) bit positions via double hashing; h2 forced odd."""
    h1 = (h64 >> np.uint64(32)).astype(np.uint64)
    h2 = (h64 | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


class Bloom:
    def __init__(self, bits: np.ndarray, k: int):
        self.bits = bits  # uint8 array, len m/8
        self.k = k

    @property
    def m(self) -> int:
        return len(self.bits) * 8

    @staticmethod
    def build(values, bits_per_key: int = 16) -> "Bloom":
        n = max(1, len(values))
        m = ((n * bits_per_key + 7) // 8) * 8
        k = max(1, round(0.693 * bits_per_key))
        bits = np.zeros(m // 8, dtype=np.uint8)
        idx = _indices(hash_values(values), k, m).ravel()
        np.bitwise_or.at(bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8))
        return Bloom(bits, k)

    def may_contain(self, values) -> np.ndarray:
        """Boolean per value: possibly present (no false negatives)."""
        return self.may_contain_hashed(hash_values(values))

    def may_contain_hashed(self, h64: np.ndarray) -> np.ndarray:
        """Same, over pre-hashed values — callers testing one key set
        against MANY files hash once and reuse."""
        idx = _indices(h64, self.k, self.m)
        got = (self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return got.all(axis=1).astype(bool)

    def may_contain_any(self, values) -> bool:
        return bool(self.may_contain(values).any())

    def to_json(self) -> dict:
        return {"k": self.k,
                "b64": base64.b64encode(self.bits.tobytes()).decode("ascii")}

    @staticmethod
    def from_json(d: dict) -> "Bloom":
        return Bloom(np.frombuffer(base64.b64decode(d["b64"]), dtype=np.uint8).copy(),
                     int(d["k"]))
