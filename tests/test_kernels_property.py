"""Property-based tests for the numpy kernels (no Spark session needed):
codec roundtrip/PSNR, pHash robustness, Morton/Hilbert curve invariants.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from medalforge_lakehouse_data_spark.functions import codec, phash, zorder

dims = st.integers(min_value=8, max_value=96)


@st.composite
def images(draw):
    h, w = draw(dims), draw(dims)
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    kind = draw(st.sampled_from(["noise", "smooth", "flat"]))
    if kind == "noise":
        img = rng.integers(0, 256, (h, w, 3))
    elif kind == "flat":
        img = np.full((h, w, 3), rng.integers(0, 256))
    else:
        yy, xx = np.mgrid[0:h, 0:w].astype(np.float32)
        img = 128 + 80 * np.sin(xx / rng.uniform(5, 30)) + 40 * np.cos(yy / rng.uniform(5, 30))
        img = np.stack([img, img, img], axis=2)
    return np.clip(img, 0, 255).astype(np.uint8)


@settings(max_examples=25, deadline=None)
@given(images())
def test_raw_roundtrip_bit_exact(img):
    assert np.array_equal(codec.decode(codec.encode_raw(img)), img)


@settings(max_examples=25, deadline=None)
@given(images())
def test_lossy_roundtrip_psnr_gate(img):
    dec = codec.decode(codec.encode_lossy(img))
    assert dec.shape == img.shape
    assert codec.psnr(img, dec) >= 40.0


@settings(max_examples=25, deadline=None)
@given(images())
def test_phash_stable_under_lossy(img):
    h1 = phash.phash64(img)
    h2 = phash.phash64(codec.decode(codec.encode_lossy(img)))
    d = phash.hamming64(np.array([h1]), np.array([h2]))[0]
    assert d <= 6


@settings(max_examples=20, deadline=None)
@given(st.integers(1, 3), st.integers(0, 2**31 - 1))
def test_morton_is_injective_and_monotone_per_axis(ndim, seed):
    rng = np.random.default_rng(seed)
    bits = {1: 63, 2: 32, 3: 21}[ndim]
    pts = [rng.integers(0, 1 << bits, 512, dtype=np.uint64) for _ in range(ndim)]
    keys = zorder.morton_interleave(pts)
    # distinct coordinate tuples → distinct keys
    tuples = set(zip(*[p.tolist() for p in pts]))
    assert len(set(keys.tolist())) == len(tuples)
    # increasing one axis with others fixed never decreases the key
    base = [np.full(100, 5, dtype=np.uint64) for _ in range(ndim)]
    base[0] = np.arange(100, dtype=np.uint64)
    k = zorder.morton_interleave(base)
    assert (np.diff(k) > 0).all()


@settings(max_examples=10, deadline=None)
@given(st.integers(2, 3), st.integers(2, 5))
def test_hilbert_bijection_and_adjacency(ndim, bits):
    side = 1 << bits
    grids = np.stack(
        np.meshgrid(*[np.arange(side)] * ndim, indexing="ij"), -1
    ).reshape(-1, ndim).astype(np.uint64)
    idx = zorder.hilbert_index([grids[:, d] for d in range(ndim)], bits)
    n = side**ndim
    assert sorted(idx.tolist()) == list(range(n))  # bijection
    order = np.argsort(idx)
    steps = np.abs(np.diff(grids[order].astype(np.int64), axis=0)).sum(axis=1)
    assert (steps == 1).all()  # unit-step curve


@settings(max_examples=25, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=2, max_size=200),
       st.integers(1, 21))
def test_normalize_to_bits_bounds_and_order(vals, bits):
    v = np.array(vals)
    out = zorder.normalize_to_bits(v, v.min(), v.max(), bits)
    assert out.max() <= (1 << bits) - 1 and out.min() >= 0
    # order-preserving (non-strict)
    srt = np.argsort(v, kind="stable")
    assert (np.diff(out[srt].astype(np.int64)) >= 0).all()


def test_codec_rejects_garbage():
    with pytest.raises(ValueError):
        codec.decode(b"NOTAMAGIC0000")
    with pytest.raises(ValueError):
        codec.encode(np.zeros((8, 8, 3), np.uint8), "webp")


@settings(max_examples=15, deadline=None)
@given(images(), images())
def test_phash_hamming_symmetry(a, b):
    ha, hb = phash.phash64(a), phash.phash64(b)
    d1 = phash.hamming64(np.array([ha]), np.array([hb]))[0]
    d2 = phash.hamming64(np.array([hb]), np.array([ha]))[0]
    assert d1 == d2 and 0 <= d1 <= 64
