"""Round-5 regression tests (round-4 VERDICT items + ADVICE fixes):

1. an add-only rewrite_files commit validates against concurrently-landed delete
   files (ADVICE #1 — conditional merge-on-read could resurrect
   deleted rows); the conditional-MoR unit retries and converges.
2. Merge re-key boundaries when no boundary list is recorded (past
   MAX_RECORDED_BOUNDARIES, or cleared): merges compute them with a
   keys-only pass and report rekey_boundaries="computed".
3. Stale cluster.* records are cleared when a full rewrite completes
   without recording fresh ones (ADVICE #4).
4. A 3-column layout grown 2× and passed through maybe_maintain keeps
   serving the recorded list to the next re-keyed merge.
5. Rate-limited spec migration (VERDICT #3): migrate_max_bytes caps
   each incremental run, oldest first; scans stay correct mid-way.
6. Coupon-collector bucket-prune skip (VERDICT #6): dense sources
   skip the distinct-bucket agg, trickle sources still collect.
7. Table.changes() CDC-lite across append / CoW-merge / MoR-delete /
   layout commits (VERDICT #4).
8. stream_windowed_agg survives a checkpoint reset (ADVICE #3): new
   run tokens keep restarted batch ids from aliasing committed ones.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from medalforge_lakehouse_data_spark.format.metadata import cluster_layout
from medalforge_lakehouse_data_spark.format.table import (
    CommitConflictError,
    Table,
)
from medalforge_lakehouse_data_spark.maintenance import clustering
from medalforge_lakehouse_data_spark.maintenance.auto import (
    MaintenancePolicy,
    maybe_maintain,
)
from medalforge_lakehouse_data_spark.operators.merge import merge_into

SIMPLE = StructType([
    StructField("k", LongType()),
    StructField("val", StringType()),
])


def _clustered_table(spark, path, n=40_000, files=8, target=64 * 1024):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 37 % 1000).cast("long").alias("a"),
        (F.col("id") * 13 % 500).cast("long").alias("b"),
        F.concat(F.lit("v"), F.col("id")).alias("s"))
    t = Table.create(path, df.schema,
                     properties={"merge.cluster-rekey-min-bytes": "1"})
    t.append(spark, df, target_file_count=files)
    clustering.cluster_rewrite(t, spark, columns=("a", "b"), curve="zorder",
                               target_file_bytes=target, mode="full")
    return t


def _upd(spark, start, stop, step, tag):
    return spark.range(start, stop, step).select(
        F.col("id").alias("k"),
        (F.col("id") * 37 % 1000).cast("long").alias("a"),
        (F.col("id") * 13 % 500).cast("long").alias("b"),
        F.lit(tag).alias("s"))


# ------------------------------------------ 1. MoR commit delete validation


def test_commit_new_entries_rejects_concurrent_delete(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], SIMPLE))
    plan_seq = t.metadata().last_sequence
    df = t.read_entries(spark, t.files(content="data"))
    added = t._write_data_files(spark, df, target_file_count=1)
    merge_into(t, spark.createDataFrame([(3, "x")], SIMPLE), ["k"], spark,
               when_matched="delete", when_not_matched=None,
               strategy="merge-on-read")
    with pytest.raises(CommitConflictError):
        t.rewrite_files([], added, operation="merge",
                        validate_from_sequence=plan_seq)
    # without the guard the same commit goes through (append semantics)
    t.rewrite_files([], added, operation="merge")


def test_conditional_mor_merge_does_not_resurrect_deleted_rows(
        spark, tmp_path, monkeypatch):
    """The ADVICE #1 race end-to-end: a MoR delete lands between the
    conditional-MoR merge's read and its commit. The merge must detect
    the conflict, re-plan, and leave the deleted key deleted."""
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"old_{i}") for i in range(30)], SIMPLE))

    real_read = Table.read_entries
    fired = {"done": False}

    def racing_read(self, spark_, entries, apply_deletes=True):
        df = real_read(self, spark_, entries, apply_deletes)
        if not fired["done"]:
            fired["done"] = True
            merge_into(Table(self.root),
                       spark.createDataFrame([(7, "x")], SIMPLE),
                       ["k"], spark, when_matched="delete",
                       when_not_matched=None, strategy="merge-on-read")
            df = df.cache()
            df.count()  # materialize the STALE read (pre-delete row set)
        return df

    monkeypatch.setattr(Table, "read_entries", racing_read)
    src = spark.createDataFrame([(k, f"new_{k}") for k in (5, 6, 7, 8)],
                                SIMPLE)
    # update-only (no INSERT clause): after the serialized-first delete,
    # key 7 is unmatched and must STAY deleted — the stale first-attempt
    # patch would have re-appended it with a fresh seq
    m = merge_into(t, src, ["k"], spark, matched_condition="s.k % 1 = 0",
                   when_not_matched=None, strategy="merge-on-read")
    assert m["affected_files"] == 0
    assert m["delete_rows"] == 3  # retried plan fired only {5, 6, 8}
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert 7 not in rows, "conditional MoR merge resurrected a deleted row"
    assert rows[5] == "new_5" and rows[6] == "new_6" and rows[8] == "new_8"
    assert len(rows) == 29


# ------------------------------------------ 2. no recorded boundary list


def test_merge_serves_manifest_boundaries_when_property_absent(spark, tmp_path):
    """With the recorded list cleared (bounds kept), every re-keyed merge
    computes its boundaries and keeps the rows exact."""
    t = _clustered_table(spark, str(tmp_path / "t"))
    m1 = merge_into(t, _upd(spark, 0, 40_000, 40, "u1"), ["k"], spark)
    assert m1["rekey_boundaries"] == "recorded"
    t.set_properties({"cluster.boundaries": None})
    for tag in ("u2", "u3"):
        m = merge_into(t, _upd(spark, 0, 40_000, 40, tag), ["k"], spark)
        assert m["rekey_boundaries"] == "computed"
        rows = {r.k: r.s for r in t.scan(spark).collect()}
        assert rows == {k: (tag if k % 40 == 0 else f"v{k}")
                        for k in range(40_000)}


def test_full_rewrite_past_cap_records_bounds_and_clears_list(
        spark, tmp_path, monkeypatch):
    """Past the property cap a full rewrite records none of the three
    cluster.* layout records, and merges compute their boundaries."""
    monkeypatch.setattr(clustering, "MAX_RECORDED_BOUNDARIES", 2)
    t = _clustered_table(spark, str(tmp_path / "t"))
    props = t.metadata().properties
    for key in ("cluster.bounds", "cluster.boundaries",
                "cluster.boundaries-rows"):
        assert key not in props
    m = merge_into(t, _upd(spark, 0, 40_000, 40, "u1"), ["k"], spark)
    assert m["rekey_boundaries"] == "computed"
    assert t.scan(spark).count() == 40_000
    assert t.scan(spark, filters=[("s", "=", "u1")]).count() == 1000


def test_stale_boundaries_cleared_when_full_rewrite_skips_recording(
        spark, tmp_path, monkeypatch):
    """ADVICE #4: a later full rewrite that cannot record fresh
    boundaries must delete the previous cluster.* records in the same
    flow — merges must not re-key to the replaced layout."""
    t = _clustered_table(spark, str(tmp_path / "t"))
    assert "cluster.boundaries" in t.metadata().properties
    monkeypatch.setattr(clustering, "MAX_RECORDED_BOUNDARIES", 2)
    clustering.cluster_rewrite(t, spark, columns=("a", "b"), curve="zorder",
                               target_file_bytes=64 * 1024, mode="full")
    props = t.metadata().properties
    for key in ("cluster.bounds", "cluster.boundaries",
                "cluster.boundaries-rows"):
        assert key not in props


def test_cluster_config_change_clears_old_records(spark, tmp_path):
    t = _clustered_table(spark, str(tmp_path / "t"))
    assert "cluster.boundaries" in t.metadata().properties
    # re-cluster on different columns: the old records must not survive
    # into the new config's label even before the new record lands
    clustering.cluster_rewrite(t, spark, columns=("b", "a"), curve="zorder",
                               target_file_bytes=64 * 1024, mode="full")
    props = t.metadata().properties
    assert props["cluster.columns"] == "b,a"
    rec = cluster_layout(props)
    # fresh record for the NEW config
    assert rec.columns == ("b", "a") and rec.boundaries is not None


# ------------------------------------------ 4. growth + maybe_maintain


def _hot_corner(spark, lo, hi, tag=None):
    hot = F.col("id") % 5 < 3  # 60% of rows at the max (a, b, c) corner
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(hot, 999).otherwise(F.col("id") * 37 % 1000).cast("long").alias("a"),
        F.when(hot, 499).otherwise(F.col("id") * 13 % 500).cast("long").alias("b"),
        F.when(hot, 299).otherwise(F.col("id") * 7 % 300).cast("long").alias("c"),
        (F.concat(F.lit("v"), F.col("id")) if tag is None
         else F.lit(tag)).alias("s"))


def test_maybe_maintain_after_growth_keeps_merge_rekey_valid(spark, tmp_path):
    """A 3-column key at the max corner is 2^63-1, the top of the int64
    key domain; boundaries interpolated in floats round it up to 2^63,
    which no int64 routing array holds (OverflowError). Growing such a
    table 2× and running maybe_maintain must leave the recorded list as
    the full cluster job wrote it, and the next re-keyed merge routes
    with it."""
    n = 10_000
    t = Table.create(str(tmp_path / "t"), _hot_corner(spark, 0, 1).schema,
                     properties={"merge.cluster-rekey-min-bytes": "1"})
    t.append(spark, _hot_corner(spark, 0, n), target_file_count=4)
    clustering.cluster_rewrite(t, spark, columns=("a", "b", "c"),
                               target_file_bytes=32 * 1024, mode="full")
    recorded = dict(t.metadata().properties)
    t.append(spark, _hot_corner(spark, n, 2 * n), target_file_count=4)
    out = maybe_maintain(t, spark, MaintenancePolicy(
        compact_after_appends=1, min_small_files=1,
        small_file_bytes=64 * 1024 * 1024, target_file_bytes=32 * 1024))
    assert out["clustered"], out
    props = t.metadata().properties
    for key in ("cluster.bounds", "cluster.boundaries",
                "cluster.boundaries-rows"):
        assert props.get(key) == recorded.get(key)
    assert all(int(b) < 1 << 63
               for b in props["cluster.boundaries"].split(","))
    m = merge_into(t, _hot_corner(spark, 0, 2 * n, "u")
                   .filter(F.col("k") % 10 == 0), ["k"], spark)
    assert m["rekey_boundaries"] == "recorded"
    rows = {r.k: r.s for r in t.scan(spark).collect()}
    assert rows == {k: ("u" if k % 10 == 0 else f"v{k}")
                    for k in range(2 * n)}


# ------------------------------------------ 5. rate-limited spec migration


def test_migration_cap_spreads_over_runs(spark, tmp_path):
    t = _clustered_table(spark, str(tmp_path / "t"), files=6)
    n_before = t.scan(spark).count()
    t.update_partition_spec(["bucket(k, 4)"])
    cur_fields = {"k_bucket_4"}
    stale0 = [e for e in t.files(content="data")
              if set(e.partition or {}) != cur_fields]
    assert stale0, "setup: expected old-spec files"
    cap = max(e.bytes for e in stale0) + 1  # ≈ one file per run
    runs = 0
    while True:
        km = clustering.cluster_rewrite(
            t, spark, columns=("a", "b"), curve="zorder",
            target_file_bytes=64 * 1024, mode="incremental",
            migrate_spec=True, migrate_max_bytes=cap, min_input_files=1)
        runs += 1
        assert t.scan(spark).count() == n_before  # correct mid-migration
        if km.get("migrate_remaining_files", 0) == 0 and km["files_in"] == 0:
            break
        assert runs < 20
    assert runs > 2, "cap did not spread migration across runs"
    stale_after = [e for e in t.files(content="data")
                   if set(e.partition or {}) != cur_fields]
    assert not stale_after


# ------------------------------------------ 6. bucket-prune agg bound


def test_bucket_prune_skipped_for_dense_source(spark, tmp_path):
    df = spark.range(4000).select(F.col("id").alias("k"),
                                  F.concat(F.lit("v"), F.col("id")).alias("val"))
    t = Table.create(str(tmp_path / "t"), df.schema,
                     partition_spec=["bucket(k, 8)"])
    t.append(spark, df, target_file_count=4)
    dense = spark.range(0, 4000, 10).select(
        F.col("id").alias("k"), F.lit("d").alias("val"))  # 400 > 4·8·ln9
    m = merge_into(t, dense, ["k"], spark)
    assert m["bucket_prune"] == "skipped-dense"
    trickle = spark.createDataFrame([(5, "x"), (6, "y")], df.schema)
    m2 = merge_into(t, trickle, ["k"], spark)
    assert m2["bucket_prune"] == "collected"
    assert m2["affected_files"] <= m2["files_total"]
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert rows[5] == "x" and rows[10] == "d" and rows[11] == "v11"


# ------------------------------------------ 7. Table.changes (CDC-lite)


def test_changes_across_commit_types(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], SIMPLE))            # sid 1
    t.append(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(20, 25)], SIMPLE))        # sid 2
    merge_into(t, spark.createDataFrame(                        # sid 3 (CoW)
        [(1, "u1"), (2, "u2"), (3, "u3"), (30, "i30"), (31, "i31")],
        SIMPLE), ["k"], spark)
    merge_into(t, spark.createDataFrame([(4, "x"), (22, "x")], SIMPLE),
               ["k"], spark, when_matched="delete",
               when_not_matched=None, strategy="merge-on-read")  # sid 4
    clustering.cluster_rewrite(t, spark, columns=("k",), curve="zorder",
                               target_file_bytes=1 << 20, mode="full")  # sid 5

    ch = t.changes(spark, from_snapshot_id=1).collect()
    by = {}
    for r in ch:
        by.setdefault((r["_commit_snapshot_id"], r["_change_type"]),
                      set()).add((r.k, r.val))
    assert by[(2, "insert")] == {(i, f"v{i}") for i in range(20, 25)}
    assert by[(3, "insert")] == {(1, "u1"), (2, "u2"), (3, "u3"),
                                 (30, "i30"), (31, "i31")}
    assert by[(3, "delete")] == {(1, "v1"), (2, "v2"), (3, "v3")}
    assert by[(4, "delete")] == {(4, None), (22, None)}
    assert not any(sid == 5 for sid, _ in by), "layout commit leaked changes"
    # replaying the change stream over snapshot 1 reproduces the table
    assert len(by[(2, "insert")]) + len(by[(3, "insert")]) == 10


def test_changes_empty_range_and_validation(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame([(1, "a")], SIMPLE))
    assert t.changes(spark, from_snapshot_id=1).count() == 0
    with pytest.raises(KeyError):
        t.changes(spark, from_snapshot_id=99)
    full = t.changes(spark, from_snapshot_id=0).collect()
    assert {(r.k, r.val, r["_change_type"]) for r in full} == {(1, "a", "insert")}


# ------------------------------------------ 8. stream checkpoint reset


def test_stream_agg_survives_checkpoint_reset(spark, tmp_path):
    import datetime
    import shutil

    from pyspark.sql.types import DoubleType, TimestampType

    from medalforge_lakehouse_data_spark.sources.ingest import (
        stream_windowed_agg,
    )

    ev_schema = StructType([
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    src = str(tmp_path / "src")
    base = datetime.datetime(2024, 7, 1, 10, 0)
    rows = [(base + datetime.timedelta(minutes=9 * i), "click", float(i))
            for i in range(10)]
    spark.createDataFrame(rows, ev_schema).coalesce(1) \
        .write.mode("append").parquet(src)
    out_schema = StructType([
        StructField("w_start", TimestampType()),
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("sum_value", DoubleType()),
    ])
    t = Table.create(str(tmp_path / "agg"), out_schema)
    ck = str(tmp_path / "ck")
    stream_windowed_agg(spark, src, "parquet", ev_schema, t, ck,
                        ts_col="ts", window="1 hour", watermark="2 hours")
    first = {(r.w_start, r.event_type): (r.n, r.sum_value)
             for r in t.scan(spark).collect()}
    assert first
    # RESET the checkpoint (batch ids restart at 0) and grow the source:
    # without per-run commit tokens the restarted batch 0 merge would be
    # deduped as "resumed" and the window rows would go stale
    shutil.rmtree(ck)
    more = [(base + datetime.timedelta(minutes=9 * i), "click", float(i))
            for i in range(10, 20)]
    spark.createDataFrame(more, ev_schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream_windowed_agg(spark, src, "parquet", ev_schema, t, ck,
                        ts_col="ts", window="1 hour", watermark="2 hours")
    after = {(r.w_start, r.event_type): (r.n, r.sum_value)
             for r in t.scan(spark).collect()}
    expect = {
        ((base + datetime.timedelta(minutes=9 * i)).replace(minute=0), "click")
        for i in range(20)}
    assert set(after) == expect
    total_n = sum(v[0] for v in after.values())
    assert total_n == 20, f"stale window rows after checkpoint reset: {after}"


# ------------------------------------------ misc: property unset


def test_set_properties_none_unsets(tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE, properties={"x": "1"})
    t.set_properties({"x": None, "y": "2"})
    props = t.metadata().properties
    assert "x" not in props and props["y"] == "2"


# ------------------------------------------ 9. changes() before-images


def test_changes_delete_before_images(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    # separate appends -> separate files with tight disjoint k ranges,
    # so the delete file's k min/max stats can prune at the manifest tier
    for lo in range(0, 50, 10):
        t.append(spark, spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, lo + 10)], SIMPLE))
    t.append(spark, spark.createDataFrame([(7, "v7b")], SIMPLE))  # 2nd version
    pre = t.metadata().current_snapshot_id
    merge_into(t, spark.createDataFrame([(7, "x"), (12, "x")], SIMPLE),
               ["k"], spark, when_matched="delete", when_not_matched=None,
               strategy="merge-on-read")
    ch = t.changes(spark, from_snapshot_id=pre,
                   delete_before_images=True).collect()
    got = {(r.k, r.val, r["_change_type"]) for r in ch}
    # one delete per LIVE parent row version, full columns populated
    assert got == {(7, "v7", "delete"), (7, "v7b", "delete"),
                   (12, "v12", "delete")}
    # default path still emits key-only rows
    base = {(r.k, r.val) for r in t.changes(spark, from_snapshot_id=pre)
            .filter(F.col("_change_type") == "delete").collect()}
    assert base == {(7, None), (12, None)}
    # the stats-derived between-filter prunes the parent scan to the
    # files whose k range overlaps [7, 12]
    kept, _ = t.plan_files(pre, [("k", "between", (7, 12))])
    assert 0 < len(kept) < len(t.files(pre))
    assert all(e.stats["k"].min <= 12 and e.stats["k"].max >= 7
               for e in kept if "k" in e.stats)


# ------------------------------------------ 10. hilbert merge, computed boundaries


def test_hilbert_manifest_merge_correct(spark, tmp_path):
    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 37 % 1000).cast("long").alias("a"),
        (F.col("id") * 13 % 500).cast("long").alias("b"),
        F.concat(F.lit("v"), F.col("id")).alias("s"))
    t = Table.create(str(tmp_path / "t"),
                     df.schema,
                     properties={"merge.cluster-rekey-min-bytes": "1"})
    t.append(spark, df, target_file_count=8)
    clustering.cluster_rewrite(t, spark, columns=("a", "b"),
                               curve="hilbert", target_file_bytes=64 * 1024,
                               mode="full")
    t.set_properties({"cluster.boundaries": None})  # no recorded list
    m = merge_into(t, _upd(spark, 0, 10_000, 25, "u1"), ["k"], spark)
    assert m["rekey_boundaries"] == "computed"
    rows = {r.k: r.s for r in t.scan(spark).collect()}
    assert rows == {k: ("u1" if k % 25 == 0 else f"v{k}")
                    for k in range(10_000)}
