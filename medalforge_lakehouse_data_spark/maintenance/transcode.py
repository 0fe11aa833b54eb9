"""Transcode rewrite — bulk image format migration as a maintenance job.

Re-encodes every image to a target codec (e.g. raw → lossy for storage,
or a quality change), recomputing the perceptual hash from the decoded
pixels in the same pass (north_star: "decode, re-encode, pHash
verification — all vectorized"). One distributed pass over Arrow
batches; zero per-row Python at the Spark layer; one atomic snapshot.

The optional ``min_psnr`` gate quarantines rows whose re-encode would
lose more than allowed: those keep their ORIGINAL bytes (never degrade
silently), and the count is reported. On the live table the job is one
unit under ``replan_on_conflict``: a merge-on-read delete committed
between its scan and its commit makes it re-plan and re-read."""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from medalforge_lakehouse_data_spark.format.table import Table, replan_on_conflict
from medalforge_lakehouse_data_spark.functions import codec
from medalforge_lakehouse_data_spark.functions.phash import phash64


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
    t0 = time.monotonic()
    job_id = job_id or f"transcode-{int(time.time())}"

    def rewrite():
        # full rewrite: every data file is replaced AND, since table.scan
        # already applied any equality deletes to the rows, the spent
        # delete files are removed in the same commit
        files = table.files(snapshot_id)
        if not files:
            return {"job_id": job_id, "rows": 0, "files_in": 0}
        schema = table.schema
        cols = schema.fieldNames()
        # per-table deflate level override (codec.zlib-level); None → the
        # codec's per-format default (raw 6, lossy 1 — see codec.py)
        zprop = table.metadata().properties.get("codec.zlib-level")
        zlevel = int(zprop) if zprop is not None else None
        plan_seq = (snapshot_id if snapshot_id is not None
                    else table.metadata().last_sequence)
        df = table.scan(spark, snapshot_id)
        schema_plus = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                                for f in schema.fields)
        out = df.mapInPandas(_transcoder(cols, target_fmt, quality, min_psnr, zlevel),
                             schema=f"{schema_plus}, _kept_original int")
        # NO cache of the transcoded rows: the write below is their only
        # consumer, and materializing the whole (at scale: table-sized)
        # image payload into executor memory bought nothing but memory
        # pressure — the kept-original recount afterwards reads ONLY the
        # fmt column of the freshly written files (parquet column pruning
        # skips the blobs), a metadata-cheap job instead of a table-sized
        # cache (guide §5).
        added = table._write_data_files(
            spark, out.drop("_kept_original"), target_file_count=target_file_count
        )
        snap = table.rewrite_files(
            [e.path for e in files],
            added,
            operation="transcode",
            commit_key=f"{job_id}:rewrite",
            extra_summary={"job_id": job_id, "target_fmt": target_fmt,
                           "quality": quality},
            # a MoR delete landing between scan and commit would be
            # silently outrun by the rewrite's fresh seq (round-2 ADVICE
            # #2): the commit fails and the live-table job re-plans
            validate_from_sequence=plan_seq,
        )
        kept_originals = (
            table.read_entries(spark, added)
            .filter(F.col("fmt") != target_fmt).select("fmt").count()
        )
        dt = time.monotonic() - t0
        rows = sum(e.rows for e in added)
        bytes_in = sum(e.bytes for e in files)
        return {
            "job_id": job_id,
            "snapshot_id": snap.snapshot_id,
            "rows": rows,
            "files_in": len(files),
            "files_out": len(added),
            "bytes_in": bytes_in,
            "bytes_out": sum(e.bytes for e in added),
            "kept_original": kept_originals,
            "seconds": dt,
            "gb_per_min": (bytes_in / 1e9) / (dt / 60) if dt > 0 else 0.0,
            "rows_per_s": rows / dt if dt > 0 else 0.0,
        }

    # a pinned snapshot has nothing newer to re-plan from: its conflict
    # reaches the caller, as in cluster_rewrite
    return rewrite() if snapshot_id is not None else replan_on_conflict(rewrite)
