"""64-bit Z-order (Morton) and Hilbert-curve key interleave, vectorized.

The reference delegates clustering to Databricks' OPTIMIZE ZORDER BY
(reference: silver/utils/merge.py:172-173); OSS Spark has no such
operator, so this module supplies the space-filling-curve keys. The
maintenance job computes a curve index over normalized (phash, w, h),
range-repartitions + sorts by it, and rewrites files — giving each
file tight min/max bounds on every clustered column, which is what
makes scan pruning effective (BASELINE.json north_star).

Everything operates on whole numpy arrays (one call per Arrow batch).
Hilbert uses Skilling's transpose algorithm (public domain, "Programming
the Hilbert curve", AIP Conf. Proc. 707, 2004) vectorized over points.
"""

from __future__ import annotations

import numpy as np


def normalize_to_bits(v: np.ndarray, vmin, vmax, bits: int) -> np.ndarray:
    """Min-max scale values into [0, 2^bits). NaN/None → 0.

    At bits=63, 2^63-1 rounds to the double 2^63; the result is clamped
    to 2^63-1 (what the JVM's double→long cast gives), so a value at the
    recorded max keys the same on both paths instead of wrapping."""
    v = np.asarray(v, dtype=np.float64)
    top = float((1 << bits) - 1)
    if vmax is None or vmin is None or vmax <= vmin:
        return np.zeros(len(v), dtype=np.uint64)
    out = (v - float(vmin)) / (float(vmax) - float(vmin)) * top
    out = np.nan_to_num(out, nan=0.0, posinf=top, neginf=0.0)
    return np.minimum(np.clip(out, 0, top).astype(np.uint64),
                      np.uint64((1 << bits) - 1))


def _spread3(x: np.ndarray) -> np.ndarray:
    """Spread the low 21 bits of each uint64 so consecutive bits land 3 apart."""
    x = x.astype(np.uint64) & np.uint64(0x1FFFFF)
    x = (x | (x << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    x = (x | (x << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    x = (x | (x << np.uint64(2))) & np.uint64(0x1249249249249249)
    return x


def _spread2(x: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits so consecutive bits land 2 apart."""
    x = x.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def morton_interleave(cols: list[np.ndarray]) -> np.ndarray:
    """Z-order key for 1-3 normalized uint64 columns → int64 array.

    2 cols: 32 bits each; 3 cols: 21 bits each (64-bit key total).
    Callers must pre-normalize with ``normalize_to_bits``.
    """
    n = len(cols)
    if n == 1:
        return cols[0].astype(np.uint64).astype(np.int64)
    if n == 2:
        z = _spread2(cols[0]) << np.uint64(1) | _spread2(cols[1])
        # keep sign bit clear so int64 ordering == uint64 ordering
        return (z >> np.uint64(1)).astype(np.int64)
    if n == 3:
        z = (
            (_spread3(cols[0]) << np.uint64(2))
            | (_spread3(cols[1]) << np.uint64(1))
            | _spread3(cols[2])
        )
        return z.astype(np.int64)
    raise ValueError("morton_interleave supports 1-3 columns in 64 bits")


def hilbert_index(cols: list[np.ndarray], bits: int) -> np.ndarray:
    """Hilbert curve index of points given per-dim uint64 coords (< 2^bits).

    Skilling's transpose algorithm, vectorized over all points; ndim*bits
    must be <= 63 so the packed key fits a Spark LongType.
    """
    ndim = len(cols)
    if ndim * bits > 63:
        raise ValueError(f"ndim*bits={ndim * bits} exceeds 63-bit key budget")
    x = np.stack([c.astype(np.uint64) for c in cols], axis=0).copy()  # (ndim, n)
    m = np.uint64(1) << np.uint64(bits - 1)

    # Inverse undo excess work (Skilling: Gray-code to Hilbert transpose)
    q = m
    while q > np.uint64(1):
        p = q - np.uint64(1)
        for i in range(ndim):
            flip = (x[i] & q) != 0
            # invert low bits of x[0] where flip
            x[0] = np.where(flip, x[0] ^ p, x[0])
            # exchange low bits of x[0] and x[i] where not flip
            t = (x[0] ^ x[i]) & p
            t = np.where(flip, np.uint64(0), t)
            x[0] ^= t
            x[i] ^= t
        q >>= np.uint64(1)

    # Gray encode
    for i in range(1, ndim):
        x[i] ^= x[i - 1]
    t = np.zeros_like(x[0])
    q = m
    while q > np.uint64(1):
        t = np.where((x[ndim - 1] & q) != 0, t ^ (q - np.uint64(1)), t)
        q >>= np.uint64(1)
    for i in range(ndim):
        x[i] ^= t

    # Pack transpose into a single integer: bit b of dim d goes to
    # position (bits-1-b)*ndim + (ndim-1-d)
    out = np.zeros(x.shape[1], dtype=np.uint64)
    for b in range(bits - 1, -1, -1):
        for d in range(ndim):
            bit = (x[d] >> np.uint64(b)) & np.uint64(1)
            out = (out << np.uint64(1)) | bit
    return out.astype(np.int64)
