"""CLI entry points (reference bronze_main/silver_main parity) and
multimodal UDF plumbing (resize, frame-sample, stubs)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from medalforge_lakehouse_data_spark import cli
from medalforge_lakehouse_data_spark.operators import multimodal as mm
from medalforge_lakehouse_data_spark.testing.datagen import images_df

CONTRACT = {
    "version": "1.0",
    "catalog": "bronze",
    "schema": "s",
    "table": "t",
    "columns": [{"name": "id", "dtype": "string"}, {"name": "v", "dtype": "double"}],
    "partitions": [],
    "source": {"format": "csv", "options": {"header": "true"}},
}


def test_cli_bronze_and_maintenance(spark, tmp_path, capsys, monkeypatch):
    # reuse the live session so the CLI doesn't boot a second JVM config
    import medalforge_lakehouse_data_spark.cli as cli_mod

    monkeypatch.setattr(cli_mod, "_spark", lambda args: spark)
    raw = tmp_path / "raw" / "bronze" / "s" / "t"
    raw.mkdir(parents=True)
    (raw / "a.csv").write_text("id,v\n1,1.5\n2,2.5\n")
    cpath = tmp_path / "contract.json"
    cpath.write_text(json.dumps(CONTRACT))

    rc = cli.main([
        "bronze", "--contract_path", str(cpath),
        "--raw_root", str(tmp_path / "raw"), "--bronze_root", str(tmp_path / "bronze"),
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "IngestionPlan" in out and '"rows_ingested": 2' in out

    table_path = str(tmp_path / "bronze" / "datasets" / "bronze" / "s" / "t")
    rc = cli.main(["maintenance", "expire", "--table_path", table_path,
                   "--keep_last", "1", "--dry_run"])
    assert rc == 0
    assert "retained_snapshots" in capsys.readouterr().out


def test_cli_mode_validation():
    with pytest.raises(SystemExit):
        cli.build_parser().parse_args(["maintenance", "bogus", "--table_path", "x"])


def test_resize_and_features(spark):
    df = images_df(spark, 50, seed=3)
    out = df.withColumn("small", mm.resize_udf(16, 16)(F.col("bytes")))
    r = out.select("small").first()
    from medalforge_lakehouse_data_spark.functions.codec import decode

    px = decode(bytes(r.small))
    assert px.shape[:2] == (16, 16)


def test_decoded_dims_match_metadata(spark):
    df = images_df(spark, 50, seed=3)
    out = df.withColumn("dims", mm.decoded_dims(F.col("bytes")))
    bad = out.filter(
        (F.col("dims.dec_w") != F.col("w")) | (F.col("dims.dec_h") != F.col("h"))
    ).count()
    assert bad == 0


def test_reencode_roundtrip_psnr(spark):
    df = images_df(spark, 30, seed=3)
    out = df.withColumn("re", mm.reencode_udf("lossy")(F.col("bytes"))) \
            .withColumn("psnr", mm.psnr_between(F.col("bytes"), F.col("re")))
    assert out.agg(F.min("psnr")).first()[0] >= 40.0


def test_decode_external_stub():
    with pytest.raises(NotImplementedError):
        mm.decode_external(b"\xff\xd8\xff", "jpeg")


def test_external_format_encode_path_end_to_end(spark):
    """Round-4 TODO: the registry's ENCODE side exercised end-to-end
    against a real external wire format (P6 PPM, numpy-only) — internal
    payloads transcode OUT to it, it decodes back bit-exact, resize
    consumes it, and unregistered formats stay row-level NULLs."""
    import numpy as np

    from medalforge_lakehouse_data_spark.functions.codec import decode
    from medalforge_lakehouse_data_spark.testing.fakes import (
        ppm_decode,
        ppm_encode,
    )

    mm.register_codec(mm.CodecSpec("ppm", decode=ppm_decode,
                                   encode=ppm_encode))
    try:
        df = images_df(spark, 30, seed=5)
        out = df.withColumn(
            "ppm", mm.reencode_any_udf("ppm")(F.col("bytes"), F.col("fmt")))
        rows = out.select("bytes", "ppm").collect()
        assert all(r.ppm is not None and bytes(r.ppm).startswith(b"P6")
                   for r in rows)
        # decode back through the registry: pixels bit-exact vs internal
        for r in rows[:5]:
            src = decode(bytes(r.bytes))
            got = mm.decode_external(bytes(r.ppm), "ppm")
            if src.ndim == 2:
                src = np.stack([src] * 3, axis=2)
            assert np.array_equal(got, src[:, :, :3])

        # external PPM feeds fmt-aware resize; unregistered fmt -> NULL row
        mixed = spark.createDataFrame(
            [(1, bytearray(rows[0].ppm), "ppm"),
             (2, bytearray(rows[0].ppm), "webp")],
            "id int, data binary, fmt string")
        small = {r.id: r.s for r in mixed.withColumn(
            "s", mm.resize_any_udf(8, 8, "ppm")("data", "fmt"))
            .select("id", "s").collect()}
        assert ppm_decode(bytes(small[1])).shape == (8, 8, 3)
        assert small[2] is None
    finally:
        mm.unregister_codec("ppm")
    with pytest.raises(NotImplementedError, match="no codec registered"):
        mm.reencode_any_udf("ppm")
