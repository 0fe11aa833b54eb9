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

import datetime
import os
import uuid
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.maintenance import compaction
from medalforge_lakehouse_data_spark.operators import merge
from medalforge_lakehouse_data_spark.operators.merge import merge_into
from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA, generate_batch

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


# every column type a data file holds, partitioned by every transform;
# identity values that Spark escapes, NULL and '' (one directory)
PARITY = StructType([
    StructField("k", LongType()), StructField("i", IntegerType()),
    StructField("d", DoubleType()), StructField("dec", DecimalType(10, 2)),
    StructField("dt", DateType()), StructField("ts", TimestampType()),
    StructField("tn", TimestampNTZType()), StructField("b", BinaryType()),
    StructField("s", StringType()), StructField("t", StringType()),
])
PARITY_SPEC = ["s", "bucket(k, 4)", "days(dt)", "days(ts)", "truncate(t, 2)",
               "truncate(i, 10)"]
_IDENTITY = ["", None, "a b", "a/b", "x=y", "%"]
DRIVER_MERGE_ROWS = merge.DRIVER_MERGE_ROWS


def _parity_rows(tag: str, n: int = 12) -> list[tuple]:
    return [(k, None if k == 3 else k * 7 - 20, k / 3 if k % 5 else None,
             Decimal(k * 125) / 100, datetime.date(2021, 1, 1 + k % 3),
             datetime.datetime(2021, 1, 1, k, 30, 15, 250_000 * (k % 4)),
             datetime.datetime(1999, 12, 31, 23, k, 0, 1000 * k),
             None if k == 4 else bytes([k, 0, 255]), _IDENTITY[k % len(_IDENTITY)],
             f"{tag}{k % 3}-{k}") for k in range(n)]


def _file_view(e) -> tuple:
    """A manifest entry as the writer decided it: directory, rows,
    partition values, stat-column bounds and bloom bits."""
    bounds = {c: (st.min, st.max) for c, st in e.stats.items()
              if (st.min, st.max) != (None, None)}
    return (os.path.dirname(e.path), e.rows, sorted(e.partition.items()), bounds,
            e.blooms)


def _rows(df) -> set:
    return {tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in df.collect()}


def test_driver_write_matches_spark_write(session, tmp_path, monkeypatch):
    """The same rows written through the Arrow and the Spark branch of
    ``_write_data_files``/``_write_delete_files`` give the same files:
    directories, per-file rows, partition values, stat bounds, blooms and
    scan rows; the Arrow branch runs no Spark job. A merge-on-read upsert
    on either path then gives the same ``changes()``."""
    spark = session
    src = spark.createDataFrame(_parity_rows("v"), PARITY)
    upd = spark.createDataFrame(_parity_rows("w", 16)[6:], PARITY)
    views, scans, changes = {}, {}, {}
    for side in ("spark", "driver"):
        monkeypatch.setattr(merge, "DRIVER_MERGE_ROWS",
                            0 if side == "spark" else DRIVER_MERGE_ROWS)
        t = Table.create(str(tmp_path / side), PARITY, partition_spec=PARITY_SPEC,
                         properties={"bloom.columns": "k"})
        if side == "driver":
            rows = merge._collect_local(t, src, ["k"], upsert=True)
            added, jobs = _jobs_while(spark, lambda: (
                t._write_data_files(spark, rows, target_file_count=1)
                + t._write_delete_files(spark, rows, ["k", "s"])))
            assert jobs == []
        else:
            added = (t._write_data_files(spark, src, target_file_count=1)
                     + t._write_delete_files(spark, src, ["k", "s"]))
        views[side] = sorted((e.content, _file_view(e)) for e in added)
        t.rewrite_files([], added, operation="append")
        scans[side] = _rows(t.scan(spark))
        before = t.current_snapshot_id()
        merge_into(t, upd, ["k"], spark, strategy="merge-on-read")
        changes[side] = _rows(t.changes(spark, before).drop("_commit_snapshot_id"))
    assert views["driver"] == views["spark"]
    assert scans["driver"] == scans["spark"] and len(scans["spark"]) == 12
    assert changes["driver"] == changes["spark"]
    assert len(changes["spark"]) == 2 * 10


def _images(ids, caption: str = ""):
    pdf = generate_batch(np.asarray(ids, dtype=np.int64), seed=5, n_bases=8)
    pdf["caption"] = caption + pdf["caption"]
    return pdf


def _image_table(spark, root) -> Table:
    t = Table.create(root, IMAGES_SCHEMA, partition_spec=["fmt", "bucket(image_id, 8)"],
                     properties={"bloom.columns": "image_id"})
    t.append(spark, spark.createDataFrame(_images(range(40)), IMAGES_SCHEMA))
    return t


def test_small_mor_merges_run_one_spark_job(session, tmp_path, monkeypatch):
    """A 12-key merge-on-read upsert and a delete on a bucketed, bloomed
    image table each run ONE Spark job (the source collect). Forced onto
    the Spark path (crossover 0) the same merges give the same rows; both
    paths raise the same duplicate-key error and no-op an empty source."""
    spark = session
    upsert = spark.createDataFrame(_images(range(32, 44), "u "), IMAGES_SCHEMA)
    delete = spark.createDataFrame(_images([1, 5, 9, 40]), IMAGES_SCHEMA)
    dups = spark.createDataFrame(_images([3, 3, 50]), IMAGES_SCHEMA)
    empty = spark.createDataFrame([], IMAGES_SCHEMA)
    scans, errors = {}, {}
    for side in ("driver", "spark"):
        monkeypatch.setattr(merge, "DRIVER_MERGE_ROWS",
                            DRIVER_MERGE_ROWS if side == "driver" else 0)
        t = _image_table(spark, str(tmp_path / side))
        jobs = [_jobs_while(spark, lambda: merge_into(
                    t, upsert, ["image_id"], spark, strategy="merge-on-read"))[1],
                _jobs_while(spark, lambda: merge_into(
                    t, delete, ["image_id"], spark, when_matched="delete",
                    when_not_matched=None, strategy="merge-on-read"))[1]]
        if side == "driver":
            assert [len(j) for j in jobs] == [1, 1]
        else:
            assert all(len(j) > 1 for j in jobs)
        scans[side] = _rows(t.scan(spark))
        with pytest.raises(ValueError) as err:
            merge_into(t, dups, ["image_id"], spark, strategy="merge-on-read")
        errors[side] = str(err.value)
        res = merge_into(t, empty, ["image_id"], spark, strategy="merge-on-read")
        assert res == {"snapshot_id": t.current_snapshot_id(), "noop": True}
    assert scans["driver"] == scans["spark"]
    assert {r[0] for r in scans["spark"]} == {
        f"img_{i:012d}" for i in range(44) if i not in (1, 5, 9, 40)}
    assert errors["driver"] == errors["spark"] == (
        "duplicate merge keys in source, e.g. ('img_000000000003',)")


def test_spark_path_skips_delete_key_distinct_for_unique_keys(spark, table, monkeypatch):
    """On the Spark path an unconditional merge-on-read merge of a
    unique-key source writes its keys without a distinct (no aggregate,
    no shuffle); duplicate keys allowed by check_unique_keys=False are
    still de-duplicated."""
    monkeypatch.setattr(merge, "DRIVER_MERGE_ROWS", 0)
    plans = []
    write = Table._write_delete_files

    def spy(self, spark, keys_df, key_cols, n_files=1):
        plans.append(keys_df._jdf.queryExecution().executedPlan().toString())
        return write(self, spark, keys_df, key_cols, n_files)

    monkeypatch.setattr(Table, "_write_delete_files", spy)
    t = table
    merge_into(t, spark.createDataFrame([(5, "n5"), (150, "n150")], SIMPLE), ["k"],
               spark, strategy="merge-on-read")
    merge_into(t, spark.createDataFrame([(6, "a"), (6, "b")], SIMPLE), ["k"], spark,
               when_matched="delete", when_not_matched=None, check_unique_keys=False,
               strategy="merge-on-read")
    assert not any(op in plans[0] for op in ("HashAggregate", "Exchange"))
    assert "HashAggregate" in plans[1]
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert len(rows) == 100 and rows[5] == "n5" and rows[150] == "n150" and 6 not in rows
    assert [d.rows for d in t.delete_files()] == [2, 1]
