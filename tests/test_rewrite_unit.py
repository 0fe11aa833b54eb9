"""One maintenance rewrite unit: every file-swapping maintenance job
reads exactly the entries it planned, commits once with its layout
record, and resumes from the commit log alone. Also: default job ids
are unique within one second, the delete-file walk opens only
delete-bearing manifests, and ``set_properties`` writes no version when
nothing changes."""

from __future__ import annotations

import glob
import os
import re
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

import medalforge_lakehouse_data_spark.format.table as table_mod
import medalforge_lakehouse_data_spark.maintenance as maint_pkg
from medalforge_lakehouse_data_spark.format.metadata import cluster_layout, read_json
from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.maintenance import auto, clustering, compaction
from medalforge_lakehouse_data_spark.maintenance.transcode import transcode_rewrite
from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA, images_df

COLS = ("phash", "w", "h")
TAG = {"curve": "zorder", "columns": list(COLS)}


def _versions(t: Table) -> list[str]:
    return sorted(glob.glob(os.path.join(t.root, "metadata", "v*.metadata.json")),
                  key=lambda p: int(re.search(r"v(\d+)\.metadata", p).group(1)))


def _checksum(spark, t: Table):
    row = t.scan(spark).select(
        F.sum(F.crc32(F.concat_ws("|", "image_id", "caption", F.base64("bytes")))).alias("h"),
        F.count("*").alias("n")).collect()[0]
    return row.h, row.n


def test_transcode_reads_only_the_files_it_replaces(spark, tmp_path, monkeypatch):
    """A file appended after the transcode listed its files is neither
    read nor removed: its rows appear once, untranscoded."""
    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA)
    t.append(spark, images_df(spark, 20, seed=41), target_file_count=2)
    real_files = Table.files
    fired = {"done": False}

    def racing_files(self, *a, **kw):
        listed = real_files(self, *a, **kw)
        if not fired["done"]:
            fired["done"] = True
            Table(self.root).append(spark, images_df(spark, 5, seed=42, id_offset=10_000))
        return listed

    monkeypatch.setattr(Table, "files", racing_files)
    m = transcode_rewrite(t, spark, target_fmt="lossy", min_psnr=None)
    monkeypatch.setattr(Table, "files", real_files)
    assert fired["done"]
    assert m["rows"] == 20
    got = Counter(r.image_id for r in t.scan(spark).select("image_id").collect())
    assert sum(got.values()) == 25
    assert set(got.values()) == {1}, "a concurrently appended file was rewritten twice"


def test_cluster_rewrite_records_its_layout_in_its_own_commit(spark, tmp_path):
    """Metadata versions per cluster_rewrite: full 1, incremental 1,
    incremental with nothing to rewrite 0. The layout record lands in
    the version that swaps the files."""
    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA)
    t.append(spark, images_df(spark, 200, seed=3), target_file_count=4)

    def run(mode):
        before = len(_versions(t))
        m = clustering.cluster_rewrite(t, spark, columns=COLS, target_file_bytes=64 * 1024,
                                       mode=mode, min_input_files=1)
        return m, len(_versions(t)) - before

    m, n = run("full")
    assert (n, m["files_in"] > 0) == (1, True)
    meta = read_json(_versions(t)[-1])
    assert meta["current_snapshot_id"] == m["snapshot_id"]
    layout = cluster_layout(meta["properties"])
    assert layout.columns == COLS and layout.boundaries is not None
    assert layout.rows == 200
    recorded = layout.boundaries

    t.append(spark, images_df(spark, 30, seed=4, id_offset=10_000), target_file_count=1)
    m, n = run("incremental")
    assert (n, m["files_in"]) == (1, 1)
    meta = read_json(_versions(t)[-1])
    assert meta["current_snapshot_id"] == m["snapshot_id"]
    # an incremental pass covers only new files: the full pass's record stays
    assert cluster_layout(meta["properties"]).boundaries == recorded

    m, n = run("incremental")
    assert (n, m["files_in"], m["snapshot_id"]) == (0, 0, None)
    assert all(e.cluster == TAG for e in t.files(content="data"))


def test_layout_declared_on_empty_table(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA)
    m = clustering.cluster_rewrite(t, spark, columns=COLS)
    assert m["files_in"] == 0 and m["snapshot_id"] is None
    assert cluster_layout(t.metadata().properties).columns == COLS
    n = len(_versions(t))
    t.set_properties({"cluster.curve": "zorder", "cluster.columns": ",".join(COLS),
                      "absent": None})
    assert len(_versions(t)) == n, "set_properties wrote a version that changed nothing"


def test_compaction_exactly_once_across_a_failed_unit(spark, tmp_path, monkeypatch):
    """One partition's commit fails once; re-running the job id commits
    only that unit, writing once, and every unit key appears once."""
    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA, partition_spec=["fmt"])
    t.append(spark, images_df(spark, 400, seed=5), target_file_count=12)
    before = _checksum(spark, t)
    plan = compaction.plan_compaction(t, 64 * 1024 * 1024)
    assert sorted(dict(k)["fmt"] for k in plan) == ["lossy", "raw"]
    job, failing = "job-C", "job-C:part:fmt=raw"
    real_rewrite, real_write = Table.rewrite_files, Table._write_data_files
    failed = {"n": 0}
    writes = {"n": 0}

    def flaky_rewrite(self, *a, **kw):
        if kw.get("commit_key") == failing and not failed["n"]:
            failed["n"] += 1
            raise OSError("injected commit failure")
        return real_rewrite(self, *a, **kw)

    def counting_write(self, *a, **kw):
        writes["n"] += 1
        return real_write(self, *a, **kw)

    monkeypatch.setattr(Table, "rewrite_files", flaky_rewrite)
    with pytest.raises(OSError, match="injected"):
        compaction.compact(t, spark, target_file_bytes=64 * 1024 * 1024, job_id=job)
    assert failed["n"] == 1

    monkeypatch.setattr(Table, "_write_data_files", counting_write)
    m = compaction.compact(t, spark, target_file_bytes=64 * 1024 * 1024, job_id=job)
    assert m["skipped_units"] == 1 and m["partitions"] == 2
    assert writes["n"] == 1
    keys = Counter(s.commit_key for s in t.snapshots()
                   if (s.commit_key or "").startswith(f"{job}:part:"))
    assert keys == {"job-C:part:fmt=lossy": 1, failing: 1}
    assert _checksum(spark, t) == before


def test_only_the_rewrite_unit_commits_maintenance_rewrites():
    root = os.path.dirname(maint_pkg.__file__)
    offenders = []
    for fn in sorted(os.listdir(root)):
        if not fn.endswith(".py") or fn == "rewrite.py":
            continue
        with open(os.path.join(root, fn)) as f:
            offenders += [f"{fn}:{i}" for i, line in enumerate(f, 1)
                          if "rewrite_files(" in line or "validate_from_sequence" in line]
    assert offenders == []


def test_default_job_ids_unique_within_one_second(spark, tmp_path, monkeypatch):
    """Two full cluster rewrites in the same wall-clock second each
    commit: the second one is not mistaken for a resumed first one."""
    monkeypatch.setattr(time, "time", lambda: 1_700_000_000.0)
    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA)
    t.append(spark, images_df(spark, 60, seed=8), target_file_count=3)
    first = clustering.cluster_rewrite(t, spark, columns=COLS, target_file_bytes=64 * 1024)
    t.append(spark, images_df(spark, 20, seed=9, id_offset=10_000), target_file_count=2)
    n_snaps = len(t.snapshots())
    second = clustering.cluster_rewrite(t, spark, columns=COLS, target_file_bytes=64 * 1024)
    assert second["job_id"] != first["job_id"] and not second["resumed"]
    assert len(t.snapshots()) == n_snaps + 1
    assert t.current_snapshot_id() == second["snapshot_id"]
    assert all(e.cluster == TAG for e in t.files(content="data"))


def test_delete_walk_opens_only_delete_manifests(spark, tmp_path, monkeypatch):
    """On a 6-manifest table without delete files, listing delete files
    and a maintenance check that fires nothing open no manifest."""
    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA)
    for i in range(6):
        t.append(spark, images_df(spark, 5, seed=10 + i, id_offset=i * 100),
                 target_file_count=1)
    assert len(t.metadata().current_snapshot().manifest_list) == 6
    opened = []
    real_read = table_mod.read_manifest

    def counting_read(root, entry):
        opened.append(entry)
        return real_read(root, entry)

    monkeypatch.setattr(table_mod, "read_manifest", counting_read)
    assert t.delete_files() == []
    assert opened == []
    out = auto.maybe_maintain(t, spark)
    assert not out["compacted"] and out["delete_files"] == 0
    assert opened == []
