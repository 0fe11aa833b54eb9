"""Regression tests for the round-2 VERDICT/ADVICE fixes:

* ingest exactly-once across a crash between append and ledger update
  while NEW files arrive (pending write-ahead record)
* deduplicate(strategy='agg') falls back to the window strategy for
  nulls-qualified order_by (min_by/max_by skip nulls)
* IVF centroid training is not partition-biased (seeded Bernoulli
  sample instead of sample(1.0).limit())
* centroid persistence roundtrip (table-properties serialization)
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.operators import ann
from medalforge_lakehouse_data_spark.operators.etl_core import deduplicate
from medalforge_lakehouse_data_spark.sources import ingest

CSV_SCHEMA = StructType(
    [StructField("id", StringType()), StructField("amount", DoubleType())]
)


def _write_csv(path, rows):
    with open(path, "w") as f:
        f.write("id,amount\n")
        for r in rows:
            f.write(f"{r[0]},{r[1]}\n")


def test_ingest_replays_pending_batch_after_crash(spark, tmp_path, monkeypatch):
    """Crash after table.append but before ledger.add, then a NEW file
    arrives: the re-run must not duplicate the already-committed rows
    (round-1 ADVICE: whole-backlog batch keys diverged on re-run)."""
    src = tmp_path / "src"
    src.mkdir()
    _write_csv(src / "f1.csv", [("a", 1.0), ("b", 2.0)])
    t = Table.create(str(tmp_path / "tbl"), StructType(
        list(CSV_SCHEMA.fields)
        + [StructField("ingestion_ts", StringType()), StructField("ingestion_date", StringType())]
    ))
    # loosen: ingest adds audit cols with their own types; build table from a dry run instead
    import shutil

    shutil.rmtree(tmp_path / "tbl")
    from medalforge_lakehouse_data_spark.operators.etl_core import add_audit_columns

    probe = add_audit_columns(spark.createDataFrame([("x", 0.0)], CSV_SCHEMA))
    t = Table.create(str(tmp_path / "tbl"), probe.schema)

    ckpt = str(tmp_path / "ckpt")
    opts = {"header": "true"}

    orig_add = ingest.FileLedger.add
    crashed = {"done": False}

    def flaky_add(self, files):
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("simulated crash between append and ledger.add")
        orig_add(self, files)

    monkeypatch.setattr(ingest.FileLedger, "add", flaky_add)
    with pytest.raises(RuntimeError):
        ingest.ingest_batch(spark, str(src), "csv", CSV_SCHEMA, t, ckpt,
                            reader_options=opts)
    monkeypatch.setattr(ingest.FileLedger, "add", orig_add)

    # the append COMMITTED before the crash
    assert t.scan(spark).count() == 2
    # new file arrives before the retry — the old batch key must not change
    _write_csv(src / "f2.csv", [("c", 3.0)])
    res = ingest.ingest_batch(spark, str(src), "csv", CSV_SCHEMA, t, ckpt,
                              reader_options=opts)
    out = t.scan(spark)
    assert out.count() == 3, "duplicate rows after crash-replay"
    assert res.files_processed == 2  # replayed f1 batch + fresh f2
    ids = sorted(r.id for r in out.select("id").collect())
    assert ids == ["a", "b", "c"]
    # a further run is a clean no-op
    res2 = ingest.ingest_batch(spark, str(src), "csv", CSV_SCHEMA, t, ckpt,
                               reader_options=opts)
    assert res2.skipped and t.scan(spark).count() == 3


def test_dedup_agg_null_ordering_matches_window(spark):
    df = spark.createDataFrame(
        [(1, None, "x"), (1, 5, "y"), (2, None, "z")],
        StructType([
            StructField("k", LongType()),
            StructField("v", LongType()),
            StructField("tag", StringType()),
        ]),
    )
    # asc (nulls first by default): NULL-v rows win; all-null group (k=2)
    # must return a real row, not an all-NULL one
    for spec in ("v asc", "v asc nulls first"):
        arows = {(r.k, r.v, r.tag)
                 for r in deduplicate(df, ["k"], [spec], strategy="agg").collect()}
        assert arows == {(1, None, "x"), (2, None, "z")}, spec
    # desc (nulls last): non-null max wins; all-null group keeps its row
    win2 = {(r.k, r.v, r.tag)
            for r in deduplicate(df, ["k"], ["v desc"], strategy="window").collect()}
    agg2 = {(r.k, r.v, r.tag)
            for r in deduplicate(df, ["k"], ["v desc"], strategy="agg").collect()}
    assert agg2 == win2 == {(1, 5, "y"), (2, None, "z")}
    # non-default nulls qualifier falls back to the window strategy
    fb = {(r.k, r.v, r.tag)
          for r in deduplicate(df, ["k"], ["v desc nulls first"], strategy="agg").collect()}
    assert fb == {(1, None, "x"), (2, None, "z")}


def _clustered_vectors(spark, n_clusters=4, per_cluster=200, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 10
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[ci] + rng.normal(size=dim) * 0.1
            rows.append((vid, ci, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "cluster", "embedding"])
    # adversarial layout: partition-pure clusters, cluster 0 first
    return df.repartitionByRange(n_clusters, "cluster"), centers


def test_ivf_centroids_not_partition_biased(spark):
    df, centers = _clustered_vectors(spark)
    # sample budget smaller than one cluster: the old first-partitions
    # .limit() would train every centroid on cluster 0 alone
    cents = ann.train_ivf_centroids(df, "embedding", nlist=4, sample_rows=150, seed=1)
    cn = cents / (np.linalg.norm(cents, axis=1, keepdims=True) + 1e-9)
    kn = centers / (np.linalg.norm(centers, axis=1, keepdims=True) + 1e-9)
    covered = {int(np.argmax(kn @ c)) for c in cn}
    assert len(covered) >= 3, f"centroids collapsed onto clusters {covered}"


def test_ivf_recall_on_skewed_layout(spark):
    df, _ = _clustered_vectors(spark)
    queries = df.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = ann.brute_force_topk(df, queries, k=5)
    approx = ann.ivf_topk(df, queries, k=5, nlist=4, n_probe=2)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall too low on skewed layout: {recall}"


def test_centroid_property_roundtrip():
    c = np.random.default_rng(3).normal(size=(8, 32))
    prop = ann.centroids_to_property(c)
    back = ann.centroids_from_property(prop)
    assert back.shape == c.shape and np.allclose(back, c)


def test_incremental_cluster_rewrites_only_new_files(spark, tmp_path):
    from medalforge_lakehouse_data_spark.maintenance import clustering
    from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA, images_df

    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA)
    t.append(spark, images_df(spark, 800, seed=1), target_file_count=8)
    full = clustering.cluster_rewrite(
        t, spark, columns=("phash", "w", "h"), target_file_bytes=64 * 1024
    )
    n_clustered = full["files_out"]
    rows_before = t.scan(spark).count()
    # trickle append → only the new files are rewrite candidates
    t.append(spark, images_df(spark, 100, seed=2, id_offset=10_000), target_file_count=3)
    inc = clustering.cluster_rewrite(
        t, spark, columns=("phash", "w", "h"), target_file_bytes=64 * 1024,
        mode="incremental",
    )
    assert inc["files_in"] == 3, f"incremental touched {inc['files_in']} files"
    assert t.scan(spark).count() == rows_before + 100
    entries = t.files()
    assert all(e.cluster == {"curve": "zorder", "columns": ["phash", "w", "h"]}
               for e in entries)
    # a second incremental pass is a no-op
    inc2 = clustering.cluster_rewrite(
        t, spark, columns=("phash", "w", "h"), target_file_bytes=64 * 1024,
        mode="incremental",
    )
    assert inc2["files_in"] == 0
    # pruning still effective: both sorted runs have tight phash ranges
    m: dict = {}
    t.scan(spark, filters=[("phash", "between", (-(2**62), 0))], metrics_out=m).count()
    assert m["files_kept"] < m["files_total"]
    assert n_clustered > 1


def test_merge_preserves_clustering_layout(spark, tmp_path):
    from medalforge_lakehouse_data_spark.maintenance import clustering
    from medalforge_lakehouse_data_spark.operators.merge import merge_into
    from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA, images_df

    # rekey-min pinned low: this test exercises the PRESERVE path (the
    # default threshold would classify this tiny table's merge as a
    # trickle and defer to incremental clustering — covered by
    # test_round3_fixes.test_trickle_merge_skips_rekey_then_recovers)
    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA,
                     properties={"merge.cluster-rekey-min-bytes": "1"})
    t.append(spark, images_df(spark, 1000, seed=3), target_file_count=8)
    clustering.cluster_rewrite(
        t, spark, columns=("phash", "w", "h"), target_file_bytes=64 * 1024
    )
    n_files_clustered = len(t.files())
    upd = images_df(spark, 200, seed=3).withColumn(
        "caption", F.concat(F.lit("v2 "), F.col("caption"))
    )
    merge_into(t, upd, ["image_id"], spark)
    entries = t.files()
    # merge did NOT collapse the table into one or two unsorted files
    # (output count tracks bytes/cluster.target-file-bytes, so compare
    # against a floor, not the pre-merge count whose sizing used
    # uncompressed input bytes)
    assert len(entries) > 2, (len(entries), n_files_clustered)
    assert all(e.cluster for e in entries), "merge output lost the cluster tag"
    m: dict = {}
    t.scan(spark, filters=[("phash", "between", (-(2**62), 0))], metrics_out=m).count()
    assert m["files_kept"] < m["files_total"], "pruning decayed after merge"
    # correctness: updated captions visible, row count unchanged
    out = t.scan(spark)
    assert out.count() == 1000
    assert out.filter(F.col("caption").startswith("v2 ")).count() == 200


def test_manifest_list_pruning_skips_unopened_manifests(spark, tmp_path, monkeypatch):
    """VERDICT #7: plan_files must skip whole manifests via the
    manifest-list bounds without opening them, so planning cost tracks
    the selectivity, not the total file count."""
    import medalforge_lakehouse_data_spark.format.table as table_mod

    SIMPLE = StructType([StructField("k", LongType()), StructField("val", StringType())])
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    # 10 appends of disjoint key ranges → 10 manifests with disjoint bounds
    for i in range(10):
        df = spark.createDataFrame(
            [(i * 1000 + j, f"v{j}") for j in range(1000)], SIMPLE
        )
        t.append(spark, df, target_file_count=4, sort_within=["k"])
    snap = t.metadata().current_snapshot()
    assert len(snap.manifest_list) == 10
    assert all(isinstance(m, dict) and "bounds" in m for m in snap.manifest_list)

    opened = {"n": 0}
    real_read = table_mod.read_manifest

    def counting_read(root, entry):
        opened["n"] += 1
        return real_read(root, entry)

    monkeypatch.setattr(table_mod, "read_manifest", counting_read)
    kept, m = t.plan_files(filters=[("k", "between", (2500, 2600))])
    assert m["manifests_total"] == 10
    assert m["manifests_opened"] == 1 == opened["n"]
    assert m["files_total"] == 40  # skipped manifests still counted exactly
    assert 1 <= m["files_kept"] <= 2
    # correctness: the pruned scan returns the exact row set
    n = t.scan(spark, filters=[("k", "between", (2500, 2600))]).count()
    assert n == 101


def test_plan_files_driver_time_large_metadata(spark, tmp_path):
    """Synthetic many-file table: a selective plan stays fast because
    non-matching manifests are never opened (driver-side budget)."""
    import time as _time

    from medalforge_lakehouse_data_spark.format.metadata import (
        ColumnStats,
        DataFile,
        write_manifest,
    )

    SIMPLE = StructType([StructField("k", LongType()), StructField("val", StringType())])
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    # fabricate 100k file entries across 100 manifests (metadata only)
    per_manifest, n_manifests = 1000, 100
    manifests = []
    for mi in range(n_manifests):
        files = [
            DataFile(
                path=f"data/f-{mi}-{fi}.parquet", rows=1000, bytes=1 << 20,
                stats={"k": ColumnStats(min=(mi * per_manifest + fi) * 10,
                                        max=(mi * per_manifest + fi) * 10 + 9)},
            )
            for fi in range(per_manifest)
        ]
        manifests.append(write_manifest(t.root, files))
    t._commit("append", lambda meta, sid: (manifests, {"total_files": 100_000}))
    t0 = _time.monotonic()
    kept, m = t.plan_files(filters=[("k", "=", 123456)])
    dt = _time.monotonic() - t0
    assert m["files_total"] == 100_000
    assert m["manifests_opened"] == 1
    assert len(kept) == 1 and kept[0].stats["k"].min <= 123456 <= kept[0].stats["k"].max
    assert dt < 1.0, f"selective plan took {dt:.2f}s driver-side"


def test_ingest_format_registry(spark, tmp_path):
    """VERDICT #10: new formats plug in via register_format (reference
    parity: IngestorFactory.register) — here a pipe-delimited 'psv'."""
    from medalforge_lakehouse_data_spark.operators.etl_core import add_audit_columns

    ingest.register_format(ingest.FormatSpec(
        "psv", (".psv",), "csv", default_options={"sep": "|"},
        option_aliases={"delimiter": "sep", "multiline": "multiLine"},
    ), replace=True)
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.psv").write_text("id|amount\nx|1.5\ny|2.5\n")
    probe = add_audit_columns(spark.createDataFrame([("x", 0.0)], CSV_SCHEMA))
    t = Table.create(str(tmp_path / "tbl"), probe.schema)
    res = ingest.ingest_batch(
        spark, str(src), "psv", CSV_SCHEMA, t, str(tmp_path / "ckpt"),
        reader_options={"header": "true"},
    )
    assert res.rows_ingested == 2
    assert {r.id for r in t.scan(spark).collect()} == {"x", "y"}
    # duplicate registration guarded; unknown format raises with the list
    with pytest.raises(ValueError, match="already registered"):
        ingest.register_format(ingest.FormatSpec("psv", (".psv",), "csv"))
    with pytest.raises(ValueError, match="unsupported format"):
        ingest.get_format("avro")


def test_ingest_builtin_tsv_and_parquet(spark, tmp_path):
    from medalforge_lakehouse_data_spark.operators.etl_core import add_audit_columns

    probe = add_audit_columns(spark.createDataFrame([("x", 0.0)], CSV_SCHEMA))
    # tsv (registered by default, sep=\t)
    src1 = tmp_path / "tsv"
    src1.mkdir()
    (src1 / "a.tsv").write_text("id\tamount\nu\t9.0\n")
    t1 = Table.create(str(tmp_path / "t1"), probe.schema)
    r1 = ingest.ingest_batch(spark, str(src1), "tsv", CSV_SCHEMA, t1,
                             str(tmp_path / "c1"), reader_options={"header": "true"})
    assert r1.rows_ingested == 1
    # parquet (no corrupt-record column)
    src2 = tmp_path / "pq"
    src2.mkdir()
    spark.createDataFrame([("p", 3.0)], CSV_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(str(src2 / "part"))
    t2 = Table.create(str(tmp_path / "t2"), probe.schema)
    r2 = ingest.ingest_batch(spark, str(src2), "parquet", CSV_SCHEMA, t2,
                             str(tmp_path / "c2"))
    assert r2.rows_ingested == 1 and r2.rows_corrupt == 0
    assert {r.id for r in t2.scan(spark).collect()} == {"p"}


def test_auto_maintenance_policy(spark, tmp_path):
    """Auto-compact fires after N appends, then incremental clustering
    folds the new files into the recorded layout."""
    from medalforge_lakehouse_data_spark.maintenance import clustering
    from medalforge_lakehouse_data_spark.maintenance.auto import (
        MaintenancePolicy,
        appends_since_last_compact,
        maybe_maintain,
    )
    from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA, images_df

    t = Table.create(str(tmp_path / "t"), IMAGES_SCHEMA)
    t.append(spark, images_df(spark, 400, seed=5), target_file_count=4)
    clustering.cluster_rewrite(t, spark, columns=("phash", "w", "h"),
                               target_file_bytes=256 * 1024)
    pol = MaintenancePolicy(compact_after_appends=3, min_small_files=2,
                            small_file_bytes=64 * 1024 * 1024,
                            target_file_bytes=8 * 1024 * 1024)
    # below threshold → no-op
    t.append(spark, images_df(spark, 50, seed=6, id_offset=10_000), target_file_count=2)
    r = maybe_maintain(t, spark, pol)
    assert not r["compacted"] and r["appends_since_compact"] == 1
    for i in range(2):
        t.append(spark, images_df(spark, 50, seed=7 + i, id_offset=20_000 + i * 1000),
                 target_file_count=2)
    rows_before = t.scan(spark).count()
    r = maybe_maintain(t, spark, pol)
    assert r["compacted"], r
    assert r["clustered"], r
    assert t.scan(spark).count() == rows_before
    assert appends_since_last_compact(t) == 0
    # layout tags preserved across the auto pass
    assert all(e.cluster for e in t.files())


def test_cas_commit_heals_crashed_winner(spark, tmp_path):
    """A writer that claimed v<N+1> but crashed before the pointer swap
    must not wedge the table: the next committer heals the pointer
    forward and retries on top of the orphaned (complete) version."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    S = StructType([StructField("k", LongType()), StructField("v", StringType())])
    t = Table.create(str(tmp_path / "t"), S)
    t.append(spark, spark.createDataFrame([(1, "a")], S))
    # simulate the crash: claim the next version slot, never swap
    cur = t._pointer_version()
    cur_v = int(cur.split(".")[0][1:])
    meta = t.metadata()
    meta.properties["crashed-writer"] = "true"
    orphan = os.path.join(t.root, "metadata", f"v{cur_v + 1}.metadata.json")
    with open(orphan, "w") as f:
        json.dump(meta.to_json(), f)
    # round-3 semantics: the exclusive claim IS the commit point — reads
    # probe forward past the stale pointer file immediately, so the
    # orphaned version is visible without waiting for a healing writer
    with open(os.path.join(t.root, "metadata", "current")) as f:
        assert f.read().strip() == cur  # pointer FILE still behind...
    assert t._pointer_version() == f"v{cur_v + 1}.metadata.json"  # ...reads aren't
    # next commit builds on the claimed version and lands on v+2
    t.append(spark, spark.createDataFrame([(2, "b")], S))
    assert t.metadata().properties.get("crashed-writer") == "true"
    assert {r.k for r in t.scan(spark).collect()} == {1, 2}
    assert int(t._pointer_version().split(".")[0][1:]) == cur_v + 2


def test_cas_concurrent_property_and_append(spark, tmp_path):
    """Racing metadata writers (append vs set_properties) both land —
    the CAS loop rebuilds the loser on fresh metadata."""
    import threading

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    S = StructType([StructField("k", LongType()), StructField("v", StringType())])
    t = Table.create(str(tmp_path / "t"), S)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(50)], S)
    errs = []

    def do_append():
        try:
            t.append(spark, df, commit_key="race-append")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def do_props():
        try:
            for i in range(5):
                t.set_properties({f"p{i}": str(i)})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = [threading.Thread(target=do_append), threading.Thread(target=do_props)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    assert t.scan(spark).count() == 50
    props = t.metadata().properties
    assert all(props.get(f"p{i}") == str(i) for i in range(5))


def test_streaming_windowed_agg_matches_batch(spark, tmp_path):
    """Structured Streaming windowed aggregation (watermark + tumbling
    window, availableNow drain) produces the same result as the batch
    F.window aggregation the driver oracle checks."""
    # watermarks need TIMESTAMP (tz-aware); testdata ts is TIMESTAMP_NTZ
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_id", "event_type",
                F.col("ts").cast("timestamp").alias("ts"), "value").limit(2000)
    in_dir = str(tmp_path / "stream_in")
    src.coalesce(2).write.mode("overwrite").parquet(in_dir)

    batch = (
        spark.read.parquet(in_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    expected = {(r.ws, r.event_type): r.n for r in batch.collect()}

    stream = (
        spark.readStream.schema(spark.read.parquet(in_dir).schema).parquet(in_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    q = (stream.writeStream.format("memory").queryName("win_agg")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.ws, r.event_type): r.n
           for r in spark.sql("SELECT * FROM win_agg").collect()}
    assert got == expected and len(got) > 10
