"""Per-file column statistics from Parquet footers.

Role: what Delta computes internally and the reference relies on for
ZORDER data skipping (reference: README.md:112,381). We read row-group
statistics from footers (metadata-only, ~KB per file) and fold them to
file-level min/max/null_count per column — these land in manifest
entries and drive scan pruning (SURVEY.md §2.4 A3).

Footer reads are metadata-only, so a driver-side thread pool handles
the files of one write.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal
from typing import Any

import pyarrow.parquet as pq

from medalforge_lakehouse_data_spark.format.metadata import ColumnStats, DataFile

# Key blooms (bloom.columns): 16 bits per key (fpp ~5e-4); a file whose
# bloom would exceed 128 KiB keeps none and falls back to range pruning.
BLOOM_BITS_PER_KEY = 16
BLOOM_MAX_BYTES = 131_072


def _merge_minmax(cur: ColumnStats, mn: Any, mx: Any, nulls: int | None) -> None:
    if mn is not None and (cur.min is None or mn < cur.min):
        cur.min = mn
    if mx is not None and (cur.max is None or mx > cur.max):
        cur.max = mx
    if nulls is not None:
        cur.null_count = (cur.null_count or 0) + nulls


def _int_decimal_scale(column) -> int | None:
    """The scale of a decimal stored as INT32/INT64 (Spark's encoding for
    precision <= 18), whose footer bounds pyarrow does not decode; None
    for any other column."""
    if (column.logical_type.type == "DECIMAL"
            and column.physical_type in ("INT32", "INT64")):
        return column.scale
    return None


def file_stats(abs_path: str, stat_columns: list[str] | None = None) -> tuple[int, int, dict[str, ColumnStats]]:
    """Return (rows, bytes, {column: ColumnStats}) for one Parquet file."""
    pf = pq.ParquetFile(abs_path)
    md = pf.metadata
    schema = md.schema
    want = set(stat_columns) if stat_columns is not None else None
    col_names = [schema.column(i).name for i in range(len(schema))]
    scales = [_int_decimal_scale(schema.column(i)) for i in range(len(schema))]
    stats: dict[str, ColumnStats] = {}
    for rg in range(md.num_row_groups):
        rg_md = md.row_group(rg)
        for i in range(rg_md.num_columns):
            name = col_names[i]
            if want is not None and name not in want:
                continue
            col = rg_md.column(i)
            try:
                st = col.statistics
            except Exception:
                continue  # pyarrow can't extract stats for some types
            if st is None:
                continue
            cur = stats.setdefault(name, ColumnStats())
            try:
                if st.has_min_max and scales[i] is not None:
                    # the raw values are the unscaled integers
                    mn, mx = (Decimal(v).scaleb(-scales[i])
                              for v in (st.min_raw, st.max_raw))
                else:
                    mn = st.min if st.has_min_max else None
                    mx = st.max if st.has_min_max else None
            except Exception:
                mn = mx = None
            # Binary payloads (non-UTF8) produce bytes min/max — drop them,
            # range pruning over opaque image bytes is meaningless.
            if isinstance(mn, bytes) and schema.column(i).logical_type.type != "STRING":
                mn = mx = None
            nulls = st.null_count if st.has_null_count else None
            _merge_minmax(cur, mn, mx, nulls)
    return md.num_rows, os.path.getsize(abs_path), stats


def file_blooms(abs_path: str, bloom_columns: list[str]) -> dict[str, dict]:
    """Per-column key bloom filters for one file (format/bloom.py).

    Unlike footer stats this reads the column DATA (columnar, only the
    requested columns). Files whose bloom would exceed
    ``BLOOM_MAX_BYTES`` skip it — manifests must stay small; those files
    fall back to range pruning."""
    from medalforge_lakehouse_data_spark.format.bloom import Bloom

    pf = pq.ParquetFile(abs_path)
    present = {pf.metadata.schema.column(i).name
               for i in range(len(pf.metadata.schema))}
    out: dict[str, dict] = {}
    for col in bloom_columns:
        if col not in present:
            continue
        n = pf.metadata.num_rows
        if (n * BLOOM_BITS_PER_KEY) // 8 > BLOOM_MAX_BYTES:
            continue
        # Drop nulls on the ARROW side: a null-bearing int64 column round-
        # tripped through pandas becomes float64, so every value would hash
        # via the str() fallback ("5.0") while the merge planner probes with
        # Python ints via splitmix64 — bloom false negatives = silently
        # skipped files = data corruption (round-2 ADVICE #1).
        col_arr = pf.read(columns=[col]).column(col).combine_chunks().drop_null()
        values = col_arr.to_pandas().to_numpy()
        if len(values):
            out[col] = Bloom.build(values, BLOOM_BITS_PER_KEY).to_json()
    return out


def _one_entry(root, rel, stat_columns, partition, bloom_columns) -> DataFile:
    abs_path = os.path.join(root, rel)
    rows, nbytes, stats = file_stats(abs_path, stat_columns)
    blooms = file_blooms(abs_path, bloom_columns) if bloom_columns else {}
    return DataFile(path=rel, rows=rows, bytes=nbytes,
                    partition=partition, stats=stats, blooms=blooms)


def collect_entries(
    root: str,
    rel_paths: list[str],
    partitions: dict[str, dict[str, Any]] | None = None,
    stat_columns: list[str] | None = None,
    bloom_columns: list[str] | None = None,
) -> list[DataFile]:
    """Build DataFile entries (footer stats + optional key blooms) for
    table-relative paths.

    ``partitions`` maps rel_path → partition values."""
    partitions = partitions or {}
    bloom_columns = list(bloom_columns or [])

    with ThreadPoolExecutor(max_workers=min(32, max(4, len(rel_paths)))) as ex:
        futs = [
            ex.submit(_one_entry, root, rel, stat_columns,
                      partitions.get(rel, {}), bloom_columns)
            for rel in rel_paths
        ]
        return [f.result() for f in futs]
