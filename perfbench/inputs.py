"""Seeded benchmark inputs, materialised to parquet during set-up.

Every generator is a pure function of ``seed``: the same seed writes the
same rows. The engine later reads only these files, so input synthesis
never lands inside a timed operation.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from medalforge_lakehouse_data_spark.testing.datagen import generate_batch

IMAGES_ARROW = pa.schema([
    ("image_id", pa.string()),
    ("bytes", pa.binary()),
    ("w", pa.int32()),
    ("h", pa.int32()),
    ("fmt", pa.string()),
    ("caption", pa.string()),
    ("phash", pa.int64()),
])

# The pixel library is fixed: every seed draws its images from the same
# Zipf-weighted set of base images, so image sizes (and with them file
# bytes) do not swing with the seed. The seed picks the block of image ids,
# which decides each row's base image, caption and bucket.
PIXEL_SEED = 42
_ID_BLOCK = 100_000_000
# inside a seed's id block: table rows first, then one insert range per
# merge source, far apart so no two sources collide
_INSERT_BASE = 50_000_000
_INSERT_STRIDE = 100_000


def id_base(seed: int) -> int:
    return (seed % 10_000) * _ID_BLOCK


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> int:
    """Write ``df`` as one parquet file; return its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path,
                   coerce_timestamps="us")
    return os.path.getsize(path)


def image_rows(ids: np.ndarray, n_bases: int, caption_prefix: str = "") -> pd.DataFrame:
    df = generate_batch(np.asarray(ids, dtype=np.int64), PIXEL_SEED, n_bases)
    if caption_prefix:
        df["caption"] = caption_prefix + df["caption"]
    return df


def image_batches(root: str, seed: int, n_rows: int, n_batches: int,
                  n_bases: int) -> list[tuple[str, int, int]]:
    """Split the seed's first ``n_rows`` ids into ``n_batches`` append files.

    Returns (path, rows, bytes) per batch."""
    out = []
    ids = id_base(seed) + np.arange(n_rows, dtype=np.int64)
    for i, part in enumerate(np.array_split(ids, n_batches)):
        path = os.path.join(root, f"batch_{i:03d}.parquet")
        nbytes = write_parquet(image_rows(part, n_bases), path, IMAGES_ARROW)
        out.append((path, len(part), nbytes))
    return out


def merge_source(path: str, seed: int, n_bases: int, rng: np.random.Generator,
                 present: np.ndarray, n_update: int, n_insert: int, k: int,
                 tag: str) -> tuple[np.ndarray, int]:
    """Updates of ``n_update`` present ids plus ``n_insert`` new ids.

    Returns (ids in the source, file bytes)."""
    upd = rng.choice(present, size=n_update, replace=False) if n_update else np.array([], np.int64)
    ins = (id_base(seed) + _INSERT_BASE + k * _INSERT_STRIDE
           + np.arange(n_insert, dtype=np.int64))
    ids = np.concatenate([np.sort(upd), ins]).astype(np.int64)
    nbytes = write_parquet(image_rows(ids, n_bases, caption_prefix=f"{tag} "),
                           path, IMAGES_ARROW)
    return ids, nbytes


def image_id(i: int) -> str:
    return f"img_{i:012d}"


# -- curate inputs -----------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = ("a batch big agg column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()


def orders(seed: int, n: int) -> pd.DataFrame:
    """TPC-H-shaped ``orders``: unique keys, prices straddling the
    contract's [1000, 400000] range, priorities with padding to trim."""
    rng = np.random.default_rng([seed, 1])
    pri = np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n)]
    pad = rng.random(n) < 0.1
    pri[pad] = np.char.add(pri[pad].astype(str), "  ")
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(1, 15_000, n, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(-50_000, 500_000, n), 2),
        "o_orderdate": pd.to_datetime("1992-01-01")
        + pd.to_timedelta(rng.integers(0, 3650, n), unit="D"),
        "o_orderpriority": pri,
    })


def documents(seed: int, n: int, dup_share: float = 0.05) -> pd.DataFrame:
    """Word-salad documents over a small vocabulary (so n-gram postings
    overlap), plus ``dup_share`` near-duplicates: copies of earlier
    documents with one word replaced."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = str(rng.choice(words))
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(8, 90)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"], dtype=object)[rng.integers(0, 5, n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
