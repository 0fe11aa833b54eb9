"""MERGE INTO semantics (reference parity: all-columns update + insert,
silver/utils/merge.py:158-170) + delete branch, pruning, idempotency,
salted skew path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medalforge_lakehouse_data_spark.format import Table
from medalforge_lakehouse_data_spark.operators.merge import merge_into
from medalforge_lakehouse_data_spark.operators.skew import salted_join
from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA, images_df
from pyspark.sql.types import LongType, StringType, StructField, StructType

SIMPLE = StructType(
    [
        StructField("k", LongType()),
        StructField("val", StringType()),
    ]
)


@pytest.fixture()
def simple_table(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(
        spark,
        spark.createDataFrame([(i, f"old_{i}") for i in range(100)], SIMPLE),
        target_file_count=4,
    )
    return t


def test_merge_update_insert(spark, simple_table):
    t = simple_table
    src = spark.createDataFrame(
        [(5, "new_5"), (50, "new_50"), (200, "new_200")], SIMPLE
    )
    m = merge_into(t, src, ["k"], spark)
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert len(rows) == 101
    assert rows[5] == "new_5" and rows[50] == "new_50" and rows[200] == "new_200"
    assert rows[6] == "old_6"


def test_merge_delete(spark, simple_table):
    t = simple_table
    src = spark.createDataFrame([(1, "x"), (2, "x"), (999, "x")], SIMPLE)
    merge_into(t, src, ["k"], spark, when_matched="delete", when_not_matched=None)
    ks = {r.k for r in t.scan(spark).collect()}
    assert 1 not in ks and 2 not in ks and 999 not in ks
    assert len(ks) == 98


def test_merge_duplicate_source_keys_rejected(spark, simple_table):
    src = spark.createDataFrame([(1, "a"), (1, "b")], SIMPLE)
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_into(simple_table, src, ["k"], spark)


def test_merge_empty_source_noop(spark, simple_table):
    t = simple_table
    before = t.current_snapshot_id()
    m = merge_into(t, spark.createDataFrame([], SIMPLE), ["k"], spark)
    assert m.get("noop") and t.current_snapshot_id() == before


def test_merge_prunes_untouched_files(spark, tmp_path):
    """Keys are range-localized → files outside the source key range are
    carried over by reference, not rewritten."""
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), F.concat(F.lit("old_"), F.col("id")).alias("val")
    )
    t.append(spark, df.repartitionByRange(10, "k"), sort_within=["k"])
    files_before = {e.path for e in t.files()}
    assert len(files_before) == 10
    src = spark.createDataFrame([(5, "n5"), (17, "n17")], SIMPLE)
    m = merge_into(t, src, ["k"], spark)
    assert m["affected_files"] < m["files_total"]
    files_after = {e.path for e in t.files()}
    assert files_before & files_after  # untouched files survived by reference
    rows = t.scan(spark, filters=[("k", "in", (5, 17, 6))]).collect()
    assert {r.k: r.val for r in rows} == {5: "n5", 17: "n17", 6: "old_6"}


def test_merge_idempotent_commit_key(spark, simple_table):
    t = simple_table
    src = spark.createDataFrame([(5, "n5")], SIMPLE)
    m1 = merge_into(t, src, ["k"], spark, commit_key="merge-X")
    m2 = merge_into(t, src, ["k"], spark, commit_key="merge-X")
    assert m2.get("resumed") and m1["snapshot_id"] == m2["snapshot_id"]
    assert t.scan(spark).count() == 100


def test_merge_images_skewed_phash(spark, tmp_path):
    """MERGE on the image table; image_id keys, Zipf-skewed content."""
    t = Table.create(str(tmp_path / "imgs"), IMAGES_SCHEMA)
    t.append(spark, images_df(spark, 2000, seed=7), target_file_count=8)
    # re-ingest overlapping slice with new captions (update) + new ids (insert)
    upd = images_df(spark, 500, seed=7).withColumn(
        "caption", F.concat(F.lit("UPDATED: "), F.col("caption"))
    )
    ins = images_df(spark, 100, seed=7, id_offset=5_000_000)
    merge_into(t, upd.unionByName(ins), ["image_id"], spark)
    out = t.scan(spark)
    assert out.count() == 2100
    assert out.filter(F.col("caption").startswith("UPDATED: ")).count() == 500


def test_salted_join_matches_plain_join(spark):
    big = spark.range(0, 20_000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame(
        [(i, f"s{i}") for i in range(0, 50, 2)], ["k", "s"]
    )
    plain = big.join(small, ["k"], "inner")
    salted = salted_join(big, small, ["k"], "inner", n_salts=8)
    assert salted.count() == plain.count()
    a = {(r.k, r.v, r.s) for r in plain.collect()}
    b = {(r.k, r.v, r.s) for r in salted.collect()}
    assert a == b


def test_merge_salted_path_correct(spark, tmp_path):
    """Force the salted anti-join path (broadcast limit 0) and compare to
    the plain path result."""
    import medalforge_lakehouse_data_spark.operators.merge as mg

    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(
        spark,
        spark.createDataFrame([(i % 20, f"old_{i}") for i in range(1000)], SIMPLE),
        target_file_count=4,
    )
    src = spark.createDataFrame([(k, f"new_{k}") for k in range(0, 20, 3)], SIMPLE)
    old_limit = mg.BROADCAST_ROW_LIMIT
    mg.BROADCAST_ROW_LIMIT = 0
    try:
        merge_into(t, src, ["k"], spark, n_salts=8)
    finally:
        mg.BROADCAST_ROW_LIMIT = old_limit
    rows = t.scan(spark).collect()
    # every key in src got collapsed to ONE row (source verbatim);
    # duplicate-key target rows (k%3!=0) survive untouched
    by_k = {}
    for r in rows:
        by_k.setdefault(r.k, []).append(r.val)
    for k in range(0, 20, 3):
        assert by_k[k] == [f"new_{k}"], by_k[k]
    assert len(by_k[1]) == 50  # untouched duplicate-key rows intact


UNIFORM = StructType(
    [
        StructField("id", LongType()),
        StructField("grp", LongType()),
        StructField("val", StringType()),
    ]
)


def test_trickle_merge_prunes_uniform_key_via_blooms(spark, tmp_path):
    """Round-1 VERDICT #3: a merge key uniformly spread across files
    (table clustered on another column) made min/max pruning useless —
    every trickle merge rewrote the whole table. Per-file key blooms
    (table property bloom.columns) must cut the affected set to ~the
    files actually holding source keys."""
    t = Table.create(str(tmp_path / "t"), UNIFORM,
                     properties={"bloom.columns": "id"})
    df = spark.createDataFrame(
        [(i, i % 8, f"v{i}") for i in range(4000)], UNIFORM
    )
    # cluster by grp: each of the 8 files holds one grp but a FULL id range
    t.append(spark, df, target_file_count=8, sort_within=["grp"])
    entries = t.files()
    # range-partitioner sampling may fold two groups into one file
    assert len(entries) >= 6
    assert all("id" in e.blooms for e in entries), "blooms missing from manifests"
    # every file spans nearly the whole id range → range pruning keeps all
    spans_all = sum(
        1 for e in entries
        if e.stats["id"].min < 100 and e.stats["id"].max > 3900
    )
    assert spans_all == len(entries)

    src = spark.createDataFrame([(7, 7 % 8, "new")], UNIFORM)
    m = merge_into(t, src, ["id"], spark)
    assert m["files_total"] == len(entries)
    assert m["affected_files"] <= 2, f"bloom pruning ineffective: {m}"
    rows = {r.id: r.val for r in t.scan(spark).collect()}
    assert rows[7] == "new" and rows[8] == "v8" and len(rows) == 4000


def test_trickle_merge_bloom_pruning_survives_compaction(spark, tmp_path):
    from medalforge_lakehouse_data_spark.maintenance import compaction

    t = Table.create(str(tmp_path / "t"), UNIFORM,
                     properties={"bloom.columns": "id"})
    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(2000)], UNIFORM
    )
    t.append(spark, df, target_file_count=16, sort_within=["grp"])
    compaction.compact(t, spark, target_file_bytes=8 * 1024)
    assert all("id" in e.blooms for e in t.files())
    src = spark.createDataFrame([(3, 3, "post-compact")], UNIFORM)
    m = merge_into(t, src, ["id"], spark)
    assert m["affected_files"] < m["files_total"]
    assert {r.val for r in t.scan(spark, filters=[("id", "=", 3)]).collect()} == {"post-compact"}


def test_merge_conditional_update(spark, simple_table):
    """WHEN MATCHED AND <cond> THEN UPDATE — non-qualifying matches stay."""
    t = simple_table
    src = spark.createDataFrame(
        [(5, "new_5"), (6, "skip_6"), (200, "new_200")], SIMPLE
    )
    merge_into(t, src, ["k"], spark,
               matched_condition="s.val LIKE 'new%'")
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[5] == "new_5"        # matched + condition true → updated
    assert rows[6] == "old_6"        # matched + condition false → unchanged
    assert rows[200] == "new_200"    # not matched → inserted (unconditional)
    assert len(rows) == 101


def test_merge_conditional_delete(spark, simple_table):
    t = simple_table
    src = spark.createDataFrame([(1, "x"), (2, "KEEP"), (999, "x")], SIMPLE)
    merge_into(t, src, ["k"], spark, when_matched="delete",
               when_not_matched=None, matched_condition="s.val <> 'KEEP'")
    ks = {r.k for r in t.scan(spark).collect()}
    assert 1 not in ks and 2 in ks and len(ks) == 99


def test_merge_update_column_subset(spark, tmp_path):
    schema = StructType([
        StructField("k", LongType()),
        StructField("val", StringType()),
        StructField("audit", StringType()),
    ])
    t = Table.create(str(tmp_path / "t"), schema)
    t.append(spark, spark.createDataFrame(
        [(i, f"old_{i}", f"created_{i}") for i in range(20)], schema),
        target_file_count=2)
    src = spark.createDataFrame([(3, "new_3", "SHOULD_NOT_LAND"),
                                 (50, "ins_50", "created_50")], schema)
    merge_into(t, src, ["k"], spark, update_columns=["val"])
    rows = {r.k: (r.val, r.audit) for r in t.scan(spark).collect()}
    assert rows[3] == ("new_3", "created_3")     # val updated, audit kept
    assert rows[50] == ("ins_50", "created_50")  # insert takes ALL columns
    assert rows[4] == ("old_4", "created_4")
    with pytest.raises(ValueError, match="not updatable"):
        merge_into(t, src, ["k"], spark, update_columns=["k"])


def test_merge_conditional_update_with_target_reference(spark, simple_table):
    """Condition comparing source vs target values (t./s. references)."""
    t = simple_table
    src = spark.createDataFrame([(5, "a_smaller"), (6, "zzz_bigger")], SIMPLE)
    merge_into(t, src, ["k"], spark, when_not_matched=None,
               matched_condition="s.val > t.val")
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[5] == "old_5"       # 'a_smaller' < 'old_5' → no update
    assert rows[6] == "zzz_bigger"  # 'zzz_bigger' > 'old_6' → updated


def test_bucket_partition_spec_merge_pruning(spark, tmp_path):
    """bucket(key, N) in the partition spec: trickle merges touch only
    the buckets the source keys hash into — the partition-level answer
    for uniform merge keys (complementary to per-file blooms)."""
    t = Table.create(str(tmp_path / "t"), UNIFORM,
                     partition_spec=["bucket(id, 8)"])
    df = spark.createDataFrame([(i, i % 4, f"v{i}") for i in range(4000)], UNIFORM)
    t.append(spark, df, target_file_count=2, sort_within=["grp"])
    entries = t.files()
    assert all("id_bucket_8" in e.partition for e in entries)
    assert len({e.partition["id_bucket_8"] for e in entries}) == 8

    src = spark.createDataFrame([(7, 3, "new7"), (123, 3, "new123")], UNIFORM)
    m = merge_into(t, src, ["id"], spark)
    # ≤ 2 buckets hit → at most 2/8 of the partitions' files rewritten
    assert m["affected_files"] <= m["files_total"] * 2 / 8 + 1, m
    rows = {r.id: r.val for r in t.scan(spark).collect()}
    assert rows[7] == "new7" and rows[123] == "new123" and rows[8] == "v8"
    assert len(rows) == 4000

    # scans: filter on the synthetic field prunes partitions exactly;
    # filter on the source column still row-filters correctly
    mx: dict = {}
    got = t.scan(spark, filters=[("id_bucket_8", "=", entries[0].partition["id_bucket_8"])],
                 metrics_out=mx)
    assert mx["files_kept"] < mx["files_total"]
    assert got.count() > 0
    assert t.scan(spark, filters=[("id", "=", 7)]).count() == 1

    with pytest.raises(ValueError, match="not in schema"):
        Table.create(str(tmp_path / "bad"), UNIFORM, partition_spec=["bucket(nope, 4)"])
