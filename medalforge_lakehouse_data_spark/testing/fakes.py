"""Picklable fake codecs for tests/demos: the codec registry snapshots
callables into pandas-UDF closures, so they must resolve by module path
on executors — test-module-local functions do not."""

from __future__ import annotations


def fake_jpeg_decode(b: bytes):
    from medalforge_lakehouse_data_spark.functions import codec

    return codec.decode(b)


def ppm_encode(px) -> bytes:
    """REAL P6 PPM bytes — a genuine external wire format, numpy-only.
    Lets the registry's encode path be exercised end-to-end against a
    foreign format without shipping an image library."""
    import numpy as np

    px = np.asarray(px)
    if px.ndim == 2:
        px = np.stack([px] * 3, axis=2)
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        px[:, :, :3].astype(np.uint8)).tobytes()


def ppm_decode(data: bytes):
    import numpy as np

    data = bytes(data)
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = magic + 3 whitespace-delimited ints, then EXACTLY ONE
    # whitespace byte before the raw pixel data (which may itself start
    # with a whitespace-valued byte — no naive split)
    idx, fields = 2, []
    while len(fields) < 3:
        while data[idx:idx + 1].isspace():
            idx += 1
        start = idx
        while not data[idx:idx + 1].isspace():
            idx += 1
        fields.append(int(data[start:idx]))
    idx += 1
    w, h, _maxval = fields
    return np.frombuffer(data[idx:idx + w * h * 3],
                         dtype=np.uint8).reshape(h, w, 3)
