"""One commit path and one re-plan loop: add-only commits through
``rewrite_files`` open no manifest beyond the delete-bearing ones the
conflict check reads, ``transcode_rewrite`` re-plans after a concurrent
merge-on-read delete like every other read-then-rewrite operator, and no
operator module catches ``CommitConflictError`` itself. Also: decimal
footer bounds from Spark-written files prune scans, and ingest and
incremental silver release their caches on every exit."""

from __future__ import annotations

import os
import re
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import medalforge_lakehouse_data_spark as pkg
import medalforge_lakehouse_data_spark.format.table as table_mod
from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.maintenance.transcode import transcode_rewrite
from medalforge_lakehouse_data_spark.operators.merge import merge_into
from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA, images_df
from test_merge_delta import _cache_empty

SIMPLE = StructType([StructField("k", LongType()), StructField("val", StringType())])


def _manifest_name(entry) -> str:
    return entry if isinstance(entry, str) else entry["path"]


def test_add_only_commits_open_only_delete_manifests(spark, tmp_path, monkeypatch):
    """An append opens no manifest at all. A merge-on-read commit opens
    only the delete-bearing manifests its conflict check reads: none for
    an upsert (it derives nothing from the target), every one for a
    conditional merge (it validates from its plan)."""
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    for i in range(3):
        t.append(spark, spark.createDataFrame(
            [(i * 100 + j, f"v{j}") for j in range(20)], SIMPLE))
    merge_into(t, spark.createDataFrame([(5, "x")], SIMPLE), ["k"], spark,
               when_matched="delete", when_not_matched=None,
               strategy="merge-on-read")

    opened: list[str] = []
    in_commit = {"on": False}
    real_read, real_rewrite = table_mod.read_manifest, Table.rewrite_files

    def counting_read(root, entry):
        opened.append(("commit:" if in_commit["on"] else "") + _manifest_name(entry))
        return real_read(root, entry)

    def flagged_rewrite(self, *a, **kw):
        in_commit["on"] = True
        try:
            return real_rewrite(self, *a, **kw)
        finally:
            in_commit["on"] = False

    monkeypatch.setattr(table_mod, "read_manifest", counting_read)
    monkeypatch.setattr(Table, "rewrite_files", flagged_rewrite)

    def delete_manifests():
        return ["commit:" + m["path"] for m in t.metadata().current_snapshot().manifest_list
                if m.get("delete_files")]

    t.append(spark, spark.createDataFrame([(900, "a")], SIMPLE))
    assert opened == [], "append opened a manifest"

    merge_into(t, spark.createDataFrame([(901, "u"), (1, "u")], SIMPLE), ["k"], spark,
               strategy="merge-on-read")
    assert [m for m in opened if m.startswith("commit:")] == []

    opened.clear()
    dels = delete_manifests()
    assert len(dels) == 2
    merge_into(t, spark.createDataFrame([(2, "c")], SIMPLE), ["k"], spark,
               matched_condition="t.val <> s.val", strategy="merge-on-read")
    assert sorted(m for m in opened if m.startswith("commit:")) == sorted(dels)
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert 5 not in rows and rows[2] == "c" and rows[1] == "u" and rows[901] == "u"


def test_transcode_replans_after_concurrent_mor_delete(spark, tmp_path, monkeypatch):
    """A merge-on-read delete commits between the transcode's scan and
    its commit. The transcode re-plans instead of raising: the deleted
    row stays deleted and every other row appears exactly once."""
    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA)
    t.append(spark, images_df(spark, 40, seed=31), target_file_count=2)
    ids = sorted(r.image_id for r in t.scan(spark).select("image_id").collect())
    victim = ids[7]

    real_write = Table._write_data_files
    fired = {"done": False}

    def racing_write(self, spark_, df, *a, **kw):
        if not fired["done"]:
            fired["done"] = True
            merge_into(Table(self.root),
                       Table(self.root).scan(spark_).filter(F.col("image_id") == victim),
                       ["image_id"], spark_, when_matched="delete",
                       when_not_matched=None, strategy="merge-on-read")
        return real_write(self, spark_, df, *a, **kw)

    monkeypatch.setattr(Table, "_write_data_files", racing_write)
    m = transcode_rewrite(t, spark, target_fmt="raw")
    assert fired["done"]
    assert m["rows"] == len(ids) - 1
    got = Counter(r.image_id for r in t.scan(spark).select("image_id").collect())
    assert victim not in got, "transcode resurrected a deleted row"
    assert set(got) == set(ids) - {victim}
    assert set(got.values()) == {1}
    assert t.delete_files() == []  # the re-planned rewrite folded the delete


def test_only_the_format_catches_commit_conflicts():
    """Re-planning on a commit conflict lives in one place,
    ``format.table.replan_on_conflict``; operators must not hand-write
    their own retry loops."""
    root = os.path.dirname(pkg.__file__)
    pattern = re.compile(r"except\b[^:\n]*\bCommitConflictError\b")
    offenders = []
    for dirpath, _dirs, fnames in os.walk(root):
        for fn in fnames:
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)
            if not fn.endswith(".py") or rel == os.path.join("format", "table.py"):
                continue
            with open(path) as f:
                offenders += [f"{rel}:{i}" for i, line in enumerate(f, 1)
                              if pattern.search(line)]
    assert offenders == []


def test_spark_written_decimal_bounds_prune(spark, tmp_path):
    """Spark stores decimal(10,2) as INT64; its footer bounds are decoded
    with the column's scale, so a range filter keeps only the file whose
    values overlap it."""
    schema = StructType([StructField("k", LongType()),
                         StructField("dec", DecimalType(10, 2))])
    t = Table.create(str(tmp_path / "t"), schema)
    for lo in (100, 1000):
        t.append(spark, spark.createDataFrame(
            [(i, Decimal(i) / 100) for i in range(lo, lo + 50)], schema),
            target_file_count=1)
    bounds = sorted((e.stats["dec"].min, e.stats["dec"].max) for e in t.files())
    assert bounds == [(Decimal("1.00"), Decimal("1.49")),
                      (Decimal("10.00"), Decimal("10.49"))]
    kept, m = t.plan_files(filters=[("dec", "between", (Decimal("10.1"), Decimal("10.2")))])
    assert (len(kept), m["files_total"]) == (1, 2)
    assert t.scan(spark, filters=[("dec", "between",
                                   (Decimal("10.1"), Decimal("10.2")))]).count() == 11


def test_ingest_batch_releases_its_cache(spark, tmp_path):
    from medalforge_lakehouse_data_spark.operators.etl_core import add_audit_columns
    from medalforge_lakehouse_data_spark.sources import ingest

    csv_schema = StructType([StructField("id", StringType()),
                             StructField("amount", DoubleType())])
    src = tmp_path / "src"
    src.mkdir()
    (src / "f1.csv").write_text("id,amount\na,1.0\nb,2.0\n")
    probe = add_audit_columns(spark.createDataFrame([("x", 0.0)], csv_schema))
    t = Table.create(str(tmp_path / "tbl"), probe.schema)
    spark.catalog.clearCache()
    res = ingest.ingest_batch(spark, str(src), "csv", csv_schema, t,
                              str(tmp_path / "ckpt"), reader_options={"header": "true"})
    assert res.rows_ingested == 2
    assert _cache_empty(spark), "ingest_batch leaked its batch cache"


def test_incremental_silver_releases_caches_on_error(spark, tmp_path):
    """A bronze delete keyed on a non-merge-key column reaches the
    incremental run as a NULL merge key, which raises; the window's
    cached frames must not outlive the run."""
    from medalforge_lakehouse_data_spark.pipeline.silver import run_pipeline_incremental
    from medalforge_lakehouse_data_spark.plans.catalog import Catalog
    from medalforge_lakehouse_data_spark.plans.silver_contract import load_silver_contract

    schema = StructType([StructField("id", StringType()),
                         StructField("amount", DoubleType())])
    catalog = Catalog(str(tmp_path / "wh"))
    contract = load_silver_contract({
        "version": "1.0",
        "source": {"bronze_table": "main.bronze.src"},
        "target": {"catalog": "main", "schema": "silver", "table": "tgt",
                   "write": {"mode": "merge", "merge_keys": ["id"]}},
        "dqx": {"checks": [{"name": "not_null_id", "check": {
            "function": "is_not_null", "arguments": {"column": "id"}}}]},
    })
    src = catalog.create_table("main.bronze.src", schema)
    src.append(spark, spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema))
    run_pipeline_incremental(spark, contract, catalog)
    merge_into(src, spark.createDataFrame([("zz", 2.0)], schema), ["amount"], spark,
               when_matched="delete", when_not_matched=None, strategy="merge-on-read")
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="NULL merge keys"):
        run_pipeline_incremental(spark, contract, catalog)
    assert _cache_empty(spark), "incremental silver leaked a cache on its error path"
