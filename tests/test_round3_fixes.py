"""Regression tests for the round-2 ADVICE fixes (round 3):

1. bloom false negatives on null-bearing int key columns (pandas
   int64→float64 coercion made build-side hashes diverge from the
   merge planner's int probes)
2. compaction/cluster/transcode vs a concurrent merge-on-read delete:
   the rewrite's fresh seq would outrun the delete — rewrite_files now
   validates and the unit retries
3. seq restamping on a lost CAS: entries keep a stale first-attempt
   seq only if stamped once; must be restamped per build attempt
4. pointer regression: reads probe forward past a stale/regressed
   pointer file (the claimed metadata slot is the commit point)
5. ingest replay where EVERY pending source file vanished must not
   wedge (empty reader.load([]) raised forever)
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from medalforge_lakehouse_data_spark.format.bloom import Bloom
from medalforge_lakehouse_data_spark.format.stats import file_blooms
from medalforge_lakehouse_data_spark.format.table import CommitConflictError, Table
from medalforge_lakehouse_data_spark.maintenance import compaction
from medalforge_lakehouse_data_spark.operators.merge import merge_into

SIMPLE = StructType([
    StructField("k", LongType()),
    StructField("val", StringType()),
])


# ---------------------------------------------------------------- 1. bloom


def test_bloom_int_key_with_nulls_has_no_false_negatives(tmp_path):
    path = str(tmp_path / "f.parquet")
    ks = list(range(100)) + [None]
    pq.write_table(pa.table({"k": pa.array(ks, type=pa.int64())}), path)
    blooms = file_blooms(path, ["k"])
    assert "k" in blooms
    b = Bloom.from_json(blooms["k"])
    # probe exactly like the merge planner: Python ints → splitmix path
    got = b.may_contain(list(range(100)))
    assert bool(got.all()), "bloom must never reject a present key"


def test_bloom_integral_float_probe_matches_int_build():
    h_int = Bloom.build(np.arange(50, dtype=np.int64))
    assert bool(h_int.may_contain(np.arange(50, dtype=np.float64)).all())


def test_merge_prunes_correctly_with_null_key_bloom(spark, tmp_path):
    """End-to-end: bloom.columns set, one file has a null key — the merge
    must still rewrite that file when it holds a source key."""
    t = Table.create(str(tmp_path / "t"), SIMPLE,
                     properties={"bloom.columns": "k"})
    t.append(spark, spark.createDataFrame(
        [(i, f"old_{i}") for i in range(10)] + [(None, "null_row")], SIMPLE))
    src = spark.createDataFrame([(5, "new_5")], SIMPLE)
    merge_into(t, src, ["k"], spark)
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[5] == "new_5", "bloom false negative skipped the file"
    assert rows[None] == "null_row" and len(rows) == 11


# --------------------------------------------- 2. concurrent-delete conflict


def test_rewrite_files_detects_concurrent_mor_delete(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"old_{i}") for i in range(20)], SIMPLE))
    files = t.files(content="data")
    plan_seq = t.metadata().last_sequence
    df = t.read_entries(spark, files)
    added = t._write_data_files(spark, df, target_file_count=1)
    # a MoR delete lands between the read and the rewrite commit
    merge_into(t, spark.createDataFrame([(3, "x")], SIMPLE), ["k"], spark,
               when_matched="delete", when_not_matched=None,
               strategy="merge-on-read")
    with pytest.raises(CommitConflictError):
        t.rewrite_files([e.path for e in files], added,
                        operation="compact", validate_from_sequence=plan_seq)
    # the delete must still apply
    assert 3 not in {r.k for r in t.scan(spark).collect()}


def test_compaction_retries_after_concurrent_mor_delete(spark, tmp_path, monkeypatch):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    for i in range(4):  # 4 small files → one compaction unit
        t.append(spark, spark.createDataFrame(
            [(i * 10 + j, f"old_{i * 10 + j}") for j in range(10)], SIMPLE))
    real_read = Table.read_entries
    fired = {"done": False}

    def racing_read(self, spark_, entries, apply_deletes=True):
        df = real_read(self, spark_, entries, apply_deletes)
        if not fired["done"]:
            fired["done"] = True
            merge_into(Table(self.root),
                       spark.createDataFrame([(7, "x"), (23, "x")], SIMPLE),
                       ["k"], spark, when_matched="delete",
                       when_not_matched=None, strategy="merge-on-read")
            # re-evaluate AFTER the concurrent delete is visible so the
            # stale read is actually materialized into the output files
            df = df.cache()
            df.count()
        return df

    monkeypatch.setattr(Table, "read_entries", racing_read)
    m = compaction.compact(t, spark, target_file_bytes=1 << 30)
    assert m["files_in"] >= 4
    ks = {r.k for r in t.scan(spark).collect()}
    assert 7 not in ks and 23 not in ks, "compaction resurrected deleted rows"
    assert len(ks) == 38


# ------------------------------------------------- 3. seq restamp on retry


def test_rewrite_entries_restamped_on_lost_cas(spark, tmp_path):
    import medalforge_lakehouse_data_spark.format.table as tbl_mod

    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"old_{i}") for i in range(10)], SIMPLE))
    files = t.files(content="data")
    df = t.read_entries(spark, files)
    added = t._write_data_files(spark, df, target_file_count=1)

    real = tbl_mod.write_json_exclusive
    state = {"raced": False}

    def racing(path, payload):
        if not state["raced"]:
            state["raced"] = True
            # a REAL concurrent append claims this slot first
            Table(t.root).append(
                spark, spark.createDataFrame([(100, "conc")], SIMPLE))
            return real(path, payload)  # now loses: slot taken
        return real(path, payload)

    tbl_mod.write_json_exclusive = racing
    try:
        snap = t.rewrite_files([e.path for e in files], added,
                               operation="compact")
    finally:
        tbl_mod.write_json_exclusive = real
    # the retried build must restamp the added entries to the FINAL sid,
    # not leave the stale first-attempt seq
    for e in t.files(content="data"):
        if e.path in {a.path for a in added}:
            assert e.seq == snap.snapshot_id
    ks = {r.k for r in t.scan(spark).collect()}
    assert 100 in ks and len(ks) == 11


# ----------------------------------------------- 4. pointer forward probing


def test_reads_probe_past_regressed_pointer(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    for i in range(3):
        t.append(spark, spark.createDataFrame([(i, f"v{i}")], SIMPLE))
    latest = t.metadata().current_snapshot_id
    # simulate the old heal race regressing the pointer to an early version
    with open(os.path.join(t.root, "metadata", "current")) as f:
        cur = f.read().strip()
    assert cur != "v1.metadata.json"
    ptr = os.path.join(t.root, "metadata", "current")
    with open(ptr, "w") as f:
        f.write("v1.metadata.json")
    t2 = Table(t.root)
    assert t2.metadata().current_snapshot_id == latest, \
        "read honored a regressed pointer, hiding committed snapshots"
    # a new commit must build on the true latest (linear lineage)
    snap = t2.append(spark, spark.createDataFrame([(99, "new")], SIMPLE))
    assert snap.parent_id == latest
    assert len({r.k for r in t2.scan(spark).collect()}) == 4


# --------------------------------------------------- 5. ingest vanished files


def test_ingest_pending_batch_all_files_vanished(spark, tmp_path):
    from medalforge_lakehouse_data_spark.operators.etl_core import add_audit_columns
    from medalforge_lakehouse_data_spark.sources import ingest

    csv_schema = StructType([
        StructField("id", StringType()), StructField("amount", StringType())])
    src = tmp_path / "src"
    src.mkdir()
    gone = str(src / "gone.csv")
    with open(gone, "w") as f:
        f.write("id,amount\na,1\n")
    probe = add_audit_columns(spark.createDataFrame([("x", "0")], csv_schema))
    t = Table.create(str(tmp_path / "tbl"), probe.schema)
    ckpt = str(tmp_path / "ckpt")
    ledger = ingest.FileLedger(ckpt)
    # crash happened after set_pending but before the append; then the
    # source file vanished
    ledger.set_pending("deadbeef", [gone])
    os.unlink(gone)
    # arrives a fresh file — ingest must not wedge on the empty replay
    with open(src / "fresh.csv", "w") as f:
        f.write("id,amount\nb,2\n")
    res = ingest.ingest_batch(
        spark, str(src), "csv", csv_schema, t, ckpt,
        reader_options={"header": "true"})
    assert res.files_processed == 1 and res.rows_ingested == 1
    assert ingest.FileLedger(ckpt).pending() is None
    assert gone in ingest.FileLedger(ckpt).processed()
    # re-run is a clean no-op
    res2 = ingest.ingest_batch(
        spark, str(src), "csv", csv_schema, t, ckpt,
        reader_options={"header": "true"})
    assert res2.skipped


# ------------------------------------- 6. trickle merge skips the curve re-key


def test_trickle_merge_skips_rekey_then_recovers(spark, tmp_path):
    """A merge whose affected bytes fall below merge.cluster-rekey-min-bytes
    must NOT pay the curve re-key + range shuffle (round-2 VERDICT perf #2:
    maint_merge 5.4× regression); its output stays untagged and the next
    INCREMENTAL clustering pass folds it back into the layout."""
    from pyspark.sql import functions as F

    from medalforge_lakehouse_data_spark.maintenance import clustering
    from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA, images_df

    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA)
    t.append(spark, images_df(spark, 1000, seed=3), target_file_count=8)
    clustering.cluster_rewrite(
        t, spark, columns=("phash", "w", "h"), target_file_bytes=64 * 1024
    )
    # default threshold = 4× cluster target = 256 KiB > this tiny table
    upd = images_df(spark, 50, seed=3).withColumn(
        "caption", F.concat(F.lit("v2 "), F.col("caption")))
    merge_into(t, upd, ["image_id"], spark)
    untagged = [e for e in t.files(content="data") if not e.cluster]
    assert untagged, "trickle merge should have skipped the curve re-key"
    km = clustering.cluster_rewrite(
        t, spark, columns=("phash", "w", "h"), target_file_bytes=64 * 1024,
        mode="incremental", min_input_files=1,
    )
    assert km["files_in"] == len(untagged)
    entries = t.files(content="data")
    assert all(e.cluster for e in entries), "incremental pass left untagged files"
    m: dict = {}
    t.scan(spark, filters=[("phash", "between", (-(2**62), 0))], metrics_out=m).count()
    assert m["files_kept"] < m["files_total"], "pruning decayed"
    out = t.scan(spark)
    assert out.count() == 1000
    assert out.filter(F.col("caption").startswith("v2 ")).count() == 50


# ----------------------------- 7. driver-side Murmur3 replica of F.hash(long)


def test_spark_hash_long_replica_matches_spark(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from medalforge_lakehouse_data_spark.maintenance.clustering import (
        _spark_hash_long,
        hash_preimages,
    )

    vals = list(range(-100, 500)) + [2**40 + 7, -(2**55), 2**62, 0, -1]
    got = {
        r.v: r.h
        for r in spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.hash("v").alias("h")).collect()
    }
    mine = _spark_hash_long(np.array(vals, dtype=np.int64))
    assert all(got[v] == int(m) for v, m in zip(vals, mine))
    # preimage contract: pmod(hash(x_p), n) == p for every partition id
    n = 37
    pre = hash_preimages(n)
    chk = (
        spark.createDataFrame([(i, x) for i, x in enumerate(pre)], "i int, x long")
        .select("i", F.pmod(F.hash("x"), F.lit(n)).alias("p"))
        .collect()
    )
    assert all(r.i == r.p for r in chk)
