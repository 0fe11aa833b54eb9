"""Merge-on-read: equality-delete files + appended row versions.

Correctness contract (Iceberg-v2-style):
  * a MoR merge rewrites ZERO existing data files
  * scans anti-join delete files against data files with strictly lower
    seq — rows appended in the same or a later commit are unaffected
  * snapshots pinned before the merge still see the old rows
  * compaction applies deletes while rewriting and drops spent delete
    files; row sets are identical before/after
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.maintenance import compaction
from medalforge_lakehouse_data_spark.operators.merge import merge_into

SIMPLE = StructType([
    StructField("k", LongType()),
    StructField("val", StringType()),
])


@pytest.fixture()
def table(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark,
             spark.createDataFrame([(i, f"old_{i}") for i in range(100)], SIMPLE),
             target_file_count=4, sort_within=["k"])
    return t


def test_mor_upsert_touches_no_files(spark, table):
    t = table
    files_before = {e.path for e in t.files(content="data")}
    src = spark.createDataFrame([(5, "new_5"), (200, "new_200")], SIMPLE)
    m = merge_into(t, src, ["k"], spark, strategy="merge-on-read")
    assert m["strategy"] == "merge-on-read" and m["affected_files"] == 0
    files_after = {e.path for e in t.files(content="data")}
    assert files_before <= files_after, "MoR rewrote existing data files"
    assert len(t.delete_files()) == 1
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[5] == "new_5" and rows[200] == "new_200" and rows[6] == "old_6"
    assert len(rows) == 101


def test_mor_delete(spark, table):
    t = table
    src = spark.createDataFrame([(1, "x"), (2, "x"), (999, "x")], SIMPLE)
    merge_into(t, src, ["k"], spark, when_matched="delete",
               when_not_matched=None, strategy="merge-on-read")
    ks = {r.k for r in t.scan(spark).collect()}
    assert 1 not in ks and 2 not in ks and len(ks) == 98


def test_mor_snapshot_isolation(spark, table):
    t = table
    pre = t.current_snapshot_id()
    src = spark.createDataFrame([(5, "new_5")], SIMPLE)
    merge_into(t, src, ["k"], spark, strategy="merge-on-read")
    old = {r.k: r.val for r in t.scan(spark, snapshot_id=pre).collect()}
    assert old[5] == "old_5" and len(old) == 100


def test_mor_reinsert_after_delete_survives(spark, table):
    """Seq rule: an append AFTER the delete commit must not be eaten by
    the older delete file."""
    t = table
    merge_into(t, spark.createDataFrame([(7, "x")], SIMPLE), ["k"], spark,
               when_matched="delete", when_not_matched=None,
               strategy="merge-on-read")
    assert t.scan(spark).filter(F.col("k") == 7).count() == 0
    t.append(spark, spark.createDataFrame([(7, "reborn")], SIMPLE))
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[7] == "reborn" and len(rows) == 100


def test_mor_stacked_merges(spark, table):
    t = table
    for i, v in enumerate(["v1", "v2", "v3"]):
        src = spark.createDataFrame([(5, f"{v}_5")], SIMPLE)
        merge_into(t, src, ["k"], spark, strategy="merge-on-read")
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[5] == "v3_5" and len(rows) == 100
    assert len(t.delete_files()) == 3


def test_compaction_folds_deletes(spark, table):
    t = table
    src = spark.createDataFrame([(5, "new_5"), (6, "new_6"), (777, "ins")], SIMPLE)
    merge_into(t, src, ["k"], spark, strategy="merge-on-read")
    before = {(r.k, r.val) for r in t.scan(spark).collect()}
    cm = compaction.compact(t, spark, target_file_bytes=64 * 1024 * 1024)
    after = {(r.k, r.val) for r in t.scan(spark).collect()}
    assert before == after, "compaction changed the row set"
    assert not t.delete_files(), "spent delete files not dropped"
    assert cm.get("dropped_delete_files", 0) >= 1
    # post-compaction reads need no anti-join: plan reports 0 delete files
    m: dict = {}
    t.scan(spark, metrics_out=m).count()
    assert m["delete_files"] == 0


def test_mor_scan_with_filters(spark, table):
    t = table
    src = spark.createDataFrame([(5, "new_5"), (50, "new_50")], SIMPLE)
    merge_into(t, src, ["k"], spark, strategy="merge-on-read")
    got = {r.k: r.val for r in
           t.scan(spark, filters=[("k", "between", (4, 6))]).collect()}
    assert got == {4: "old_4", 5: "new_5", 6: "old_6"}


def test_full_cluster_rewrite_drops_deletes(spark, table):
    from medalforge_lakehouse_data_spark.maintenance import clustering

    t = table
    merge_into(t, spark.createDataFrame([(5, "new_5")], SIMPLE), ["k"], spark,
               strategy="merge-on-read")
    clustering.cluster_rewrite(t, spark, columns=("k",), target_file_bytes=16 * 1024)
    assert not t.delete_files()
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[5] == "new_5" and len(rows) == 100


# --------------------- conditional / subset clauses under merge-on-read


def test_mor_conditional_update_touches_no_files(spark, table):
    """WHEN MATCHED AND <cond> THEN UPDATE SET val = s.val under MoR:
    zero rewritten files; only FIRED keys are equality-deleted, matched
    rows failing the condition stay untouched (round-3 VERDICT #3)."""
    t = table
    files_before = {e.path for e in t.files(content="data")}
    src = spark.createDataFrame(
        [(4, "new_4"), (5, "new_5"), (300, "new_300")], SIMPLE)
    m = merge_into(t, src, ["k"], spark,
                   matched_condition="t.k % 2 = 0",  # fires for k=4 only
                   strategy="merge-on-read")
    assert m["strategy"] == "merge-on-read" and m["affected_files"] == 0
    assert files_before <= {e.path for e in t.files(content="data")}, \
        "conditional MoR rewrote existing data files"
    assert m["delete_rows"] == 1  # only the fired key
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[4] == "new_4"          # matched + condition fired
    assert rows[5] == "old_5"          # matched, condition failed: untouched
    assert rows[300] == "new_300"      # not matched: inserted
    assert len(rows) == 101


def test_mor_conditional_subset_update(spark, table):
    """update_columns subset under MoR: non-updated columns keep their
    TARGET values in the patched row versions."""
    t = table
    wide = StructType([
        StructField("k", LongType()),
        StructField("val", StringType()),
        StructField("note", StringType()),
    ])
    t2 = Table.create(str(t.root) + "_wide", wide)
    t2.append(spark, spark.createDataFrame(
        [(i, f"old_{i}", f"note_{i}") for i in range(20)], wide))
    src = spark.createDataFrame([(3, "new_3", "SRC"), (25, "new_25", "SRC")], wide)
    m = merge_into(t2, src, ["k"], spark, update_columns=["val"],
                   strategy="merge-on-read")
    assert m["affected_files"] == 0
    rows = {r.k: (r.val, r.note) for r in t2.scan(spark).collect()}
    assert rows[3] == ("new_3", "note_3"), "subset update clobbered note"
    assert rows[25] == ("new_25", "SRC")   # insert carries source values
    assert len(rows) == 21


def test_mor_conditional_delete(spark, table):
    t = table
    src = spark.createDataFrame([(10, "x"), (11, "x"), (999, "x")], SIMPLE)
    m = merge_into(t, src, ["k"], spark, when_matched="delete",
                   when_not_matched=None,
                   matched_condition="t.k % 2 = 0",
                   strategy="merge-on-read")
    assert m["affected_files"] == 0 and m["delete_rows"] == 1
    ks = {r.k for r in t.scan(spark).collect()}
    assert 10 not in ks and 11 in ks and len(ks) == 99


def test_mor_conditional_then_compact_roundtrip(spark, table):
    """compact_deletes folds conditional-MoR deletes without changing
    the row set."""
    t = table
    src = spark.createDataFrame([(6, "new_6"), (7, "new_7")], SIMPLE)
    merge_into(t, src, ["k"], spark, matched_condition="s.val = 'new_6'",
               strategy="merge-on-read")
    before = sorted((r.k, r.val) for r in t.scan(spark).collect())
    compaction.compact_deletes(t, spark)
    assert t.delete_files() == []
    after = sorted((r.k, r.val) for r in t.scan(spark).collect())
    assert before == after
    assert dict(after)[6] == "new_6" and dict(after)[7] == "old_7"


def test_mor_conditional_preserves_unfired_duplicate_key_siblings(spark, tmp_path):
    """Equality deletes are key-granular; the condition is row-granular.
    A duplicate-key target whose sibling rows fire differently must keep
    the unfired sibling (re-appended verbatim), not lose it."""
    t = Table.create(str(tmp_path / "dup"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(1, "keep_me"), (1, "patch_me"), (2, "other")], SIMPLE))
    src = spark.createDataFrame([(1, "patched")], SIMPLE)
    m = merge_into(t, src, ["k"], spark,
                   matched_condition="t.val = 'patch_me'",
                   when_not_matched=None, strategy="merge-on-read")
    assert m["affected_files"] == 0 and m["delete_rows"] == 1
    rows = sorted((r.k, r.val) for r in t.scan(spark).collect())
    assert rows == [(1, "keep_me"), (1, "patched"), (2, "other")], rows


# --------------------- one delete-apply read path (seq-tagged scan)


@pytest.fixture(params=["get_spark", "ansi"])
def session(request, spark):
    """The repo's test session, and a fresh one with ANSI on (the
    default of a plain Spark 4 session)."""
    if request.param == "get_spark":
        return spark
    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    return s


def _mor_delete(t, spark, rows, schema):
    merge_into(t, spark.createDataFrame(rows, schema), ["k"], spark,
               when_matched="delete", when_not_matched=None,
               strategy="merge-on-read")


def _live_delete_seqs(t) -> int:
    return len({d.seq for d in t.delete_files()})


def test_mor_read_escaped_partition_many_delete_seqs(session, tmp_path):
    """A partition value that needs URI escaping ('a b' is stored under
    p=a%20b) must not hide a file's sequence number: a key re-appended
    after its delete stays live when the scan applies 10 delete
    sequences."""
    spark = session
    part = StructType([
        StructField("k", LongType()),
        StructField("p", StringType()),
        StructField("val", StringType()),
    ])
    t = Table.create(str(tmp_path / "t"), part, partition_spec=["p"])
    t.append(spark, spark.createDataFrame(
        [(i, "a b", f"v{i}") for i in range(20)], part), target_file_count=1)
    _mor_delete(t, spark, [(3, "a b", "x")], part)
    t.append(spark, spark.createDataFrame([(3, "a b", "re3")], part))
    for k in range(10, 19):
        _mor_delete(t, spark, [(k, "a b", "x")], part)
    assert _live_delete_seqs(t) == 10

    want = {(i, f"v{i}") for i in range(20) if not 10 <= i <= 18 and i != 3}
    want.add((3, "re3"))
    assert {(r.k, r.val) for r in t.scan(spark).collect()} == want


def test_mor_read_seq_rule_across_rename(session, tmp_path):
    """The sequence rule holds at one and at nine live delete sequences,
    for files written before a rename_column (read through the aligning
    projection) and after it, including keys re-inserted after their
    delete that a sequence-blind anti-join would remove."""
    spark = session
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], SIMPLE), target_file_count=2)
    t.rename_column("val", "v")
    renamed = StructType([StructField("k", LongType()),
                          StructField("v", StringType())])
    _mor_delete(t, spark, [(3, "x"), (7, "x")], renamed)
    t.append(spark, spark.createDataFrame([(3, "re3")], renamed))
    assert _live_delete_seqs(t) == 1
    want = {(i, f"v{i}") for i in range(20) if i not in (3, 7)} | {(3, "re3")}
    assert {(r.k, r.v) for r in t.scan(spark).collect()} == want

    for k in range(10, 17):
        _mor_delete(t, spark, [(k, "x")], renamed)
    t.append(spark, spark.createDataFrame([(10, "re10")], renamed))
    _mor_delete(t, spark, [(3, "x")], renamed)
    assert _live_delete_seqs(t) == 9
    want = {(i, f"v{i}") for i in range(20) if i not in (3, 7)
            and not 10 <= i <= 16} | {(10, "re10")}
    assert {(r.k, r.v) for r in t.scan(spark).collect()} == want


# --------------------- zero-job delete reads (schema-pinned key scans)


def _jobs_while(spark, build):
    """``build()``'s result and the Spark job ids launched while it ran."""
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build read plans")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_mor_read_plans_run_no_spark_job(session, tmp_path):
    """Building a scan or a read_entries plan over live equality deletes
    launches no Spark job: delete files are read with a pinned schema,
    so no per-file footer inference runs, at one and at nine delete
    sequences."""
    spark = session
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], SIMPLE), target_file_count=8)
    for n in (1, 9):
        while _live_delete_seqs(t) < n:
            _mor_delete(t, spark, [(_live_delete_seqs(t), "x")], SIMPLE)
        data = t.files(content="data")
        assert len(data) <= 32
        plans, jobs = _jobs_while(
            spark, lambda: [t.scan(spark), t.read_entries(spark, data)])
        assert jobs == [], f"{len(jobs)} jobs at {n} delete seqs"
        want = {(i, f"v{i}") for i in range(n, 40)}
        for df in plans:
            assert {(r.k, r.val) for r in df.collect()} == want


@pytest.mark.parametrize("widen", [False, True],
                         ids=["int_source", "widened_key"])
def test_mor_narrow_delete_keys_read_as_table_type(session, tmp_path, widen):
    """Delete files whose physical key is int32 read as the table's long
    key: written from an int-typed MoR source into a long-keyed table, or
    written while the key was int and read after widen_column int→long.
    Scan rows and changes() delete events stay exact."""
    spark = session
    narrow = StructType([StructField("k", IntegerType()),
                         StructField("val", StringType())])
    t = Table.create(str(tmp_path / "t"), narrow if widen else SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], t.schema), target_file_count=2)
    merge_into(t, spark.createDataFrame([(3, "new3"), (30, "new30")], narrow),
               ["k"], spark, strategy="merge-on-read")
    upsert = t.current_snapshot_id()
    _mor_delete(t, spark, [(7, "x")], narrow)
    delete = t.current_snapshot_id()
    if widen:
        t.widen_column("k", LongType())
    assert t.scan(spark).schema["k"].dataType == LongType()
    want = ({(i, f"v{i}") for i in range(10) if i not in (3, 7)}
            | {(3, "new3"), (30, "new30")})
    assert {(r.k, r.val) for r in t.scan(spark).collect()} == want
    events = t.changes(spark, 0).filter("_change_type = 'delete'").collect()
    assert {(r.k, r.val, r._commit_snapshot_id) for r in events} == {
        (3, None, upsert), (30, None, upsert), (7, None, delete)}
