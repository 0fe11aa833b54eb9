"""Transcode rewrite — bulk image format migration as a maintenance job.

Re-encodes every image to a target codec (e.g. raw → lossy for storage,
or a quality change), recomputing the perceptual hash from the decoded
pixels in the same pass (north_star: "decode, re-encode, pHash
verification — all vectorized"). One distributed pass over Arrow
batches; zero per-row Python at the Spark layer; one atomic snapshot.

The optional ``min_psnr`` gate quarantines rows whose re-encode would
lose more than allowed: those keep their ORIGINAL bytes (never degrade
silently), and the count is reported. The job is one ``rewrite_unit``:
it reads exactly the data files it lists and replaces, so a file
appended meanwhile stays as it is, and on the live table a merge-on-read
delete committed between the read and the commit makes it re-plan."""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from medalforge_lakehouse_data_spark.format.metadata import Snapshot, TableMetadata
from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.functions import codec
from medalforge_lakehouse_data_spark.functions.phash import phash64
from medalforge_lakehouse_data_spark.maintenance.rewrite import Plan, default_job_id, rewrite_unit


def _transcoder(cols: list[str], target_fmt: str, quality: int,
                min_psnr: float | None, zlevel: int | None):
    """The mapInPandas function of one transcode: re-encode each image,
    recompute its pHash, and keep the original bytes where the re-encode
    fails or misses the PSNR gate (``_kept_original`` counts them per
    batch)."""

    def transcode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            new_bytes, new_fmt, new_phash, kept = [], [], [], 0
            for b, fmt, ph in zip(pdf["bytes"], pdf["fmt"], pdf["phash"]):
                try:
                    px = codec.decode(bytes(b))
                    enc = codec.encode(px, target_fmt, quality, zlevel)
                    # decode the re-encode ONCE; reused by the PSNR gate
                    # and the pHash recompute (was two decodes per row)
                    dec = codec.decode(enc) if target_fmt == "lossy" else px
                    if min_psnr is not None and target_fmt == "lossy":
                        if codec.psnr(px, dec) < min_psnr:
                            kept += 1
                            new_bytes.append(b); new_fmt.append(fmt); new_phash.append(ph)
                            continue
                    new_bytes.append(enc)
                    new_fmt.append(target_fmt)
                    new_phash.append(phash64(dec))
                except Exception:
                    kept += 1
                    new_bytes.append(b); new_fmt.append(fmt); new_phash.append(ph)
            out = pdf.copy()
            out["bytes"] = new_bytes
            out["fmt"] = new_fmt
            out["phash"] = new_phash
            out["_kept_original"] = kept  # same value per batch; summed later
            yield out[cols + ["_kept_original"]]

    return transcode


def transcode_rewrite(
    table: Table,
    spark: SparkSession,
    target_fmt: str = "lossy",
    quality: int = 96,
    min_psnr: float | None = 40.0,
    snapshot_id: int | None = None,
    job_id: str | None = None,
    target_file_count: int | None = None,
) -> dict:
    """Re-encode every data file of the table (or of the pinned
    ``snapshot_id``) as one ``rewrite_unit``; returns its record plus
    ``kept_original``, the rows that kept their original bytes."""
    t0 = time.monotonic()
    job_id = job_id or default_job_id("transcode")
    unit: dict = {}

    def plan(meta: TableMetadata, snap: Snapshot | None) -> Plan | None:
        # full rewrite: every data file is replaced AND, since the read
        # applies any equality deletes to the rows, the spent delete
        # files are removed in the same commit
        entries = table.files(snap.snapshot_id) if snap is not None else []
        data = [e for e in entries if e.content == "data"]
        if not data:
            return None
        # per-table deflate level override (codec.zlib-level); None → the
        # codec's per-format default (raw 6, lossy 1 — see codec.py)
        zprop = meta.properties.get("codec.zlib-level")
        unit.update(schema=meta.schema, zlevel=int(zprop) if zprop is not None else None)
        return Plan(data, [e for e in entries if e.content == "deletes"])

    def write(rows, _):
        schema = unit["schema"]
        schema_plus = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                                for f in schema.fields)
        out = rows.mapInPandas(
            _transcoder(schema.fieldNames(), target_fmt, quality, min_psnr, unit["zlevel"]),
            schema=f"{schema_plus}, _kept_original int")
        # NO cache of the transcoded rows: the write below is their only
        # consumer, and materializing the whole (at scale: table-sized)
        # image payload into executor memory bought nothing but memory
        # pressure — the kept-original recount afterwards reads ONLY the
        # fmt column of the freshly written files (parquet column pruning
        # skips the blobs), a metadata-cheap job instead of a table-sized
        # cache (guide §5). Their rows already had the deletes applied.
        added = table._write_data_files(
            spark, out.drop("_kept_original"), target_file_count=target_file_count)
        unit["kept"] = (table.read_entries(spark, added, apply_deletes=False)
                        .filter(F.col("fmt") != target_fmt).select("fmt").count())
        return added, None

    rec = rewrite_unit(table, spark, "transcode", job_id, f"{job_id}:rewrite", plan, write,
                       snapshot_id=snapshot_id,
                       extra_summary={"target_fmt": target_fmt, "quality": quality},
                       t0=t0)
    return {**rec, "kept_original": unit.get("kept", 0)}
