"""Table format core: create / append / scan / pruning / snapshot
isolation / idempotent commits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from medalforge_lakehouse_data_spark.format import Table

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("grp", StringType()),
        StructField("v", IntegerType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_create_is_idempotent(tmp_table_dir):
    t = Table.create(tmp_table_dir, SCHEMA, partition_spec=["grp"])
    t2 = Table.create(tmp_table_dir, SCHEMA, partition_spec=["grp"], if_not_exists=True)
    assert t2.partition_spec == ["grp"]
    with pytest.raises(FileExistsError):
        Table.create(tmp_table_dir, SCHEMA)
    assert t.current_snapshot_id() is None


def test_complex_partition_rejected(tmp_table_dir):
    from pyspark.sql.types import ArrayType

    s = StructType([StructField("a", ArrayType(StringType()))])
    with pytest.raises(ValueError):
        Table.create(tmp_table_dir + "x", s, partition_spec=["a"])
    with pytest.raises(ValueError):
        Table.create(tmp_table_dir + "y", SCHEMA, partition_spec=["nope"])


def test_append_scan_roundtrip(spark, tmp_table_dir):
    t = Table.create(tmp_table_dir, SCHEMA, partition_spec=["grp"])
    rows = [(i, "a" if i % 2 else "b", i * 10) for i in range(100)]
    snap = t.append(spark, _df(spark, rows))
    assert snap.operation == "append"
    got = sorted(t.scan(spark).collect(), key=lambda r: r.id)
    assert [(r.id, r.grp, r.v) for r in got] == rows
    # partition values recorded in manifests
    parts = {tuple(e.partition.items()) for e in t.files()}
    assert (("grp", "a"),) in parts and (("grp", "b"),) in parts
    # manifest entries written by older versions carry a per-file
    # "zrange" curve-key range; such entries still load and scan
    import glob
    import json

    for mp in glob.glob(f"{tmp_table_dir}/metadata/manifests/m-*.json"):
        with open(mp) as fh:
            man = json.load(fh)
        for e in man["entries"]:
            e["zrange"] = [0, (1 << 63) - 1]
        with open(mp, "w") as fh:
            json.dump(man, fh)
    old = Table(tmp_table_dir)
    assert len(old.files()) == len(t.files())
    got = sorted(old.scan(spark).collect(), key=lambda r: r.id)
    assert [(r.id, r.grp, r.v) for r in got] == rows
    assert old.inspect(spark, "files").count() == len(t.files())


def test_partition_and_stats_pruning(spark, tmp_table_dir):
    t = Table.create(tmp_table_dir, SCHEMA, partition_spec=["grp"])
    t.append(spark, _df(spark, [(i, "a", i) for i in range(50)]), target_file_count=1)
    t.append(spark, _df(spark, [(i, "b", i + 1000) for i in range(50)]), target_file_count=1)
    # partition pruning
    kept, m = t.plan_files(filters=[("grp", "=", "a")])
    assert m["files_total"] == 2 and m["files_kept"] == 1
    # min/max stats pruning on non-partition column
    kept, m = t.plan_files(filters=[("v", ">", 500)])
    assert m["files_kept"] == 1
    # residual filter exactness
    df = t.scan(spark, filters=[("v", ">", 500), ("v", "<=", 1010)])
    assert df.count() == 11  # 1000..1010


def test_snapshot_isolation_and_overwrite(spark, tmp_table_dir):
    t = Table.create(tmp_table_dir, SCHEMA)
    s1 = t.append(spark, _df(spark, [(1, "a", 1), (2, "b", 2)]))
    s2 = t.append(spark, _df(spark, [(3, "c", 3)]))
    assert t.scan(spark, snapshot_id=s1.snapshot_id).count() == 2
    assert t.scan(spark, snapshot_id=s2.snapshot_id).count() == 3
    s3 = t.overwrite_all(spark, _df(spark, [(9, "z", 9)]))
    assert t.scan(spark).count() == 1
    # pinned old snapshot unchanged after overwrite (isolation)
    assert t.scan(spark, snapshot_id=s2.snapshot_id).count() == 3
    assert t.metadata().snapshot_by_id(s3.snapshot_id).summary["total_rows"] == 1


def test_commit_key_idempotent(spark, tmp_table_dir):
    t = Table.create(tmp_table_dir, SCHEMA)
    s1 = t.append(spark, _df(spark, [(1, "a", 1)]), commit_key="job-1")
    s2 = t.append(spark, _df(spark, [(1, "a", 1)]), commit_key="job-1")
    assert s1.snapshot_id == s2.snapshot_id
    assert t.scan(spark).count() == 1


def test_rewrite_files_swaps_and_preserves_rows(spark, tmp_table_dir):
    t = Table.create(tmp_table_dir, SCHEMA)
    t.append(spark, _df(spark, [(i, "a", i) for i in range(10)]), target_file_count=4)
    files = t.files()
    assert len(files) == 4
    # simulate compaction: rewrite all into one file
    df = t.scan(spark)
    new_entries = t._write_data_files(spark, df, target_file_count=1)
    t.rewrite_files([e.path for e in files], new_entries, operation="replace")
    assert len(t.files()) == 1
    got = sorted(r.id for r in t.scan(spark).collect())
    assert got == list(range(10))


def test_rewrite_rejects_unknown_files(spark, tmp_table_dir):
    t = Table.create(tmp_table_dir, SCHEMA)
    t.append(spark, _df(spark, [(1, "a", 1)]))
    with pytest.raises(ValueError):
        t.rewrite_files(["data/ghost.parquet"], [], operation="replace")


def test_empty_scan_schema(spark, tmp_table_dir):
    t = Table.create(tmp_table_dir, SCHEMA)
    df = t.scan(spark)
    assert df.count() == 0
    # table schemas carry field_id metadata (schema evolution); compare shape
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in SCHEMA.fields
    ]
