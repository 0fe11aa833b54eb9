"""Maintenance jobs: compaction, clustering, manifest rewrite, snapshot
expiry + GC, kill-resume idempotency. Invariants per BASELINE.json
north_star: identical row sets under pinned snapshots, caption equality,
pHash verification, pruning actually skips files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medalforge_lakehouse_data_spark.format import Table
from medalforge_lakehouse_data_spark.maintenance import compaction, clustering, expire, manifests
from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA, images_df

N = 3000


@pytest.fixture()
def img_table(spark, tmp_path):
    t = Table.create(str(tmp_path / "imgs"), IMAGES_SCHEMA, partition_spec=["fmt"])
    df = images_df(spark, N, seed=7)
    # many small files: deliberately over-split
    t.append(spark, df, target_file_count=24)
    return t


def _fingerprint(spark, t: Table, snapshot_id=None):
    """Order-insensitive content fingerprint (row set identity)."""
    df = t.scan(spark, snapshot_id=snapshot_id)
    return (
        df.select(
            F.sum(F.crc32(F.concat_ws("|", "image_id", "caption", F.base64("bytes")))).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]
    )


def test_compaction_preserves_rows_and_reduces_files(spark, img_table):
    t = img_table
    before = _fingerprint(spark, t)
    files_before = len(t.files())
    pre_snap = t.current_snapshot_id()
    m = compaction.compact(t, spark, target_file_bytes=64 * 1024 * 1024)
    assert m["files_in"] > 0 and m["files_out"] < m["files_in"]
    assert len(t.files()) < files_before
    after = _fingerprint(spark, t)
    assert (before.h, before.n) == (after.h, after.n)
    # snapshot isolation: pinned pre-compaction snapshot unchanged
    pinned = _fingerprint(spark, t, snapshot_id=pre_snap)
    assert (pinned.h, pinned.n) == (before.h, before.n)


def _unit_keys(t: Table, job_id: str) -> list[str]:
    return [s.commit_key for s in t.snapshots()
            if (s.commit_key or "").startswith(f"{job_id}:part:")]


def test_compaction_resume_no_duplicate_commits(spark, img_table):
    t = img_table
    m1 = compaction.compact(t, spark, target_file_bytes=64 * 1024 * 1024, job_id="job-A")
    n_snaps = len(t.snapshots())
    n = _fingerprint(spark, t)
    # re-run same job (simulates restart after kill at the end)
    m2 = compaction.compact(t, spark, target_file_bytes=64 * 1024 * 1024, job_id="job-A")
    assert len(t.snapshots()) == n_snaps  # no duplicate commits
    n2 = _fingerprint(spark, t)
    assert (n.h, n.n) == (n2.h, n2.n)
    # the commit log is the ledger: every unit committed once, and the
    # re-run found all of them there
    keys = _unit_keys(t, "job-A")
    assert len(keys) == len(set(keys)) == m1["partitions"] > 0
    assert m2["skipped_units"] == m2["partitions"] == m1["partitions"]
    assert m2["files_in"] == 0


def test_checkpoint_partial_resume(spark, img_table):
    """A unit whose commit key is already in the log is skipped: the
    re-run commits only the other units, each once."""
    t = img_table
    plan = compaction.plan_compaction(t, 64 * 1024 * 1024)
    assert len(plan) >= 2  # two fmt partitions
    # pretend a previous run committed the first partition's unit
    first_key = sorted(plan.items())[0][0]
    unit = "part:" + ",".join(f"{k}={v}" for k, v in first_key)
    t.rewrite_files([], [], operation="compact", commit_key=f"job-B:{unit}")
    m = compaction.compact(t, spark, target_file_bytes=64 * 1024 * 1024, job_id="job-B")
    assert m["skipped_units"] == 1
    keys = _unit_keys(t, "job-B")
    assert sorted(keys) == sorted(set(keys)) and len(keys) == len(plan)


def test_clustering_tightens_bounds_and_prunes(spark, img_table):
    t = img_table
    before = _fingerprint(spark, t)
    pre_snap = t.current_snapshot_id()

    # pruning BEFORE clustering on a phash range
    lo, hi = -(2**62), 0
    _, m_pre = t.plan_files(filters=[("phash", "between", (lo, hi))])

    m = clustering.cluster_rewrite(
        t, spark, columns=("phash", "w", "h"), curve="zorder",
        target_file_bytes=256 * 1024,
    )
    assert m["files_out"] > 1

    after = _fingerprint(spark, t)
    assert (before.h, before.n) == (after.h, after.n)
    pinned = _fingerprint(spark, t, snapshot_id=pre_snap)
    assert (pinned.h, pinned.n) == (before.h, before.n)

    _, m_post = t.plan_files(filters=[("phash", "between", (lo, hi))])
    frac_pre = m_pre["files_kept"] / max(1, m_pre["files_total"])
    frac_post = m_post["files_kept"] / max(1, m_post["files_total"])
    assert frac_post < frac_pre, (m_pre, m_post)
    # scan results identical to full-scan + filter
    got = t.scan(spark, filters=[("phash", "between", (lo, hi))]).count()
    want = t.scan(spark).filter(F.col("phash").between(lo, hi)).count()
    assert got == want


def test_hilbert_clustering(spark, img_table):
    t = img_table
    before = _fingerprint(spark, t)
    m = clustering.cluster_rewrite(
        t, spark, columns=("phash", "w"), curve="hilbert",
        target_file_bytes=256 * 1024,
    )
    after = _fingerprint(spark, t)
    assert (before.h, before.n) == (after.h, after.n)
    # w-range pruning should now skip files
    _, pm = t.plan_files(filters=[("w", "=", 32)])
    assert pm["files_kept"] < pm["files_total"]


def test_unkeyable_layout_refused_before_recording(spark, tmp_path):
    """A layout the curve key cannot compute (a string column, an unknown
    curve) is refused with a ValueError before any property is written
    or any Spark job runs; later folds and re-keyed merges are
    unaffected."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from medalforge_lakehouse_data_spark.operators.merge import merge_into

    schema = StructType([StructField("k", LongType()), StructField("s", StringType())])
    t = Table.create(str(tmp_path / "t"), schema)
    t.append(spark, spark.createDataFrame([(i, f"s{i}") for i in range(40)], schema),
             target_file_count=4)
    props = dict(t.metadata().properties)
    sc = spark.sparkContext
    sc.setJobGroup("unkeyable-layout", "unkeyable-layout")
    try:
        with pytest.raises(ValueError, match="'s' is string"):
            clustering.cluster_rewrite(t, spark, columns=("k", "s"))
        with pytest.raises(ValueError, match="curve"):
            clustering.cluster_rewrite(t, spark, columns=("k",), curve="peano")
    finally:
        sc.setJobGroup("after", "after")
    assert not sc.statusTracker().getJobIdsForGroup("unkeyable-layout")
    assert dict(t.metadata().properties) == props

    merge_into(t, spark.createDataFrame([(3, "x"), (7, "x")], schema), ["k"], spark,
               when_matched="delete", when_not_matched=None, strategy="merge-on-read")
    assert compaction.compact_deletes(t, spark)["files_in"] > 0
    t.set_properties({"merge.cluster-rekey-min-bytes": "1"})
    merge_into(t, spark.createDataFrame([(5, "new"), (100, "ins")], schema), ["k"], spark)
    got = dict(t.scan(spark).select("k", "s").collect())
    assert len(got) == 39 and got[5] == "new" and got[100] == "ins" and 3 not in got


def test_rewrite_manifests(spark, img_table):
    t = img_table
    # several appends → several manifests
    t.append(spark, images_df(spark, 200, seed=9, id_offset=10_000_000))
    t.append(spark, images_df(spark, 200, seed=10, id_offset=20_000_000))
    snap = t.metadata().current_snapshot()
    assert len(snap.manifest_list) >= 3
    before = _fingerprint(spark, t)
    m = manifests.rewrite_manifests(t)
    assert m["manifests_out"] < m["manifests_in"]
    after = _fingerprint(spark, t)
    assert (before.h, before.n) == (after.h, after.n)


def test_expire_snapshots_gc(spark, img_table):
    t = img_table
    files_v1 = {e.path for e in t.files()}
    compaction.compact(t, spark, target_file_bytes=64 * 1024 * 1024)
    fp = _fingerprint(spark, t)
    res = expire.expire_snapshots(t, keep_last=1, grace_s=0.0)
    assert res["expired_snapshots"]
    assert res["deleted_data_files"] > 0
    # old files physically gone
    gone = [p for p in files_v1 if not os.path.exists(os.path.join(t.root, p))]
    assert gone
    # current snapshot intact
    after = _fingerprint(spark, t)
    assert (fp.h, fp.n) == (after.h, after.n)
    # expired snapshot no longer readable
    with pytest.raises(KeyError):
        t.metadata().snapshot_by_id(res["expired_snapshots"][0])


def test_expire_dry_run_deletes_nothing(spark, img_table):
    t = img_table
    compaction.compact(t, spark, target_file_bytes=64 * 1024 * 1024)
    n_files_disk = sum(len(f) for _, _, f in os.walk(os.path.join(t.root, "data")))
    res = expire.expire_snapshots(t, keep_last=1, grace_s=0.0, dry_run=True)
    assert res["deleted_data_files"] > 0
    assert sum(len(f) for _, _, f in os.walk(os.path.join(t.root, "data"))) == n_files_disk
    assert len(t.snapshots()) > 1  # history retained on dry run
