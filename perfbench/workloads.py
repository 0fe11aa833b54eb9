"""The three benchmark workloads: ``maintain``, ``upsert_scan``, ``curate``.

A workload materialises its seeded inputs in ``setup`` and then yields
its operations one round at a time from ``round``. Each operation is a
``(kind, fn)`` pair: ``fn`` does only the engine call and returns an
:class:`Op` record; ``verify`` runs after the timer stops and checks the
result against state the workload tracks itself.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import struct
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.maintenance import (
    auto,
    clustering,
    compaction,
    expire,
    manifests,
    transcode,
)
from medalforge_lakehouse_data_spark.operators import dedup, merge
from medalforge_lakehouse_data_spark.pipeline import silver
from medalforge_lakehouse_data_spark.plans.catalog import Catalog
from medalforge_lakehouse_data_spark.plans.silver_contract import load_silver_contract
from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA

from perfbench import inputs

CLUSTER_COLS = ("phash", "w", "h")
CHECK_COLS = ["image_id", "caption", "phash"]


@dataclass
class Op:
    """What one operation did: rows it processed, input bytes it was
    handed, and whatever ``verify`` needs."""
    rows: int = 0
    in_bytes: int = 0
    result: object = None
    extra: dict = field(default_factory=dict)


def row_checksum(pdf: pd.DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, order-independent 64-bit sum of per-row digests)."""
    acc = 0
    for row in pdf[cols].itertuples(index=False, name=None):
        d = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
        acc = (acc + struct.unpack("<Q", d)[0]) & 0xFFFFFFFFFFFFFFFF
    return len(pdf), acc


def table_checksum(spark, t: Table, cols: list[str] = CHECK_COLS) -> tuple[int, int]:
    return row_checksum(t.scan(spark, columns=cols).toPandas(), cols)


def bytes_written(roots: list[str], seen: dict[str, int]) -> int:
    """Data-file bytes committed to the tables under ``roots`` since the
    last call, from snapshot summaries (``seen`` keeps the last snapshot
    id per table)."""
    total = 0
    for root in roots:
        if not Table.exists(root):
            continue
        last = seen.get(root, 0)
        for s in Table(root).snapshots():
            if s.snapshot_id > last:
                total += int(s.summary.get("added_bytes", 0))
                last = s.snapshot_id
        seen[root] = last
    return total


class Workload:
    name = ""
    MIN_ROUNDS = 1        # measured rounds at least, however long they take

    def __init__(self, spark, work: str, seed: int, nproc: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.sizes: dict = {}
        self.setup_steps: dict[str, float] = {}
        self._seen: dict[str, int] = {}

    @contextlib.contextmanager
    def step(self, name: str):
        """Time one set-up step for the report."""
        t0 = time.perf_counter()
        yield
        self.setup_steps[name] = time.perf_counter() - t0

    def setup(self) -> None:
        raise NotImplementedError

    def round(self):
        raise NotImplementedError

    def warmup(self):
        """Operations run once in set-up so each kind is warm when timed."""
        yield from self.round()

    def verify(self, kind: str, op: Op) -> bool:
        return True

    def check_once(self) -> dict[str, bool]:
        return {}

    def table_roots(self) -> list[str]:
        return []

    def written_bytes(self) -> int:
        return bytes_written(self.table_roots(), self._seen)


# ---------------------------------------------------------------------------


class Maintain(Workload):
    """Small appends with ``maybe_maintain`` after each, then a full
    Z-order cluster, transcode, manifest rewrite and expiry. Every cycle
    starts from an empty table so every cycle does the same work."""

    name = "maintain"
    CYCLE_ROWS = 1200
    BATCHES = 12

    def setup(self) -> None:
        n_bases = max(64, self.CYCLE_ROWS // 4)
        self.batches = inputs.image_batches(
            os.path.join(self.work, "inputs"), self.seed, self.CYCLE_ROWS,
            self.BATCHES, n_bases)
        self.cycle = 0
        self.sizes = {"cycle_rows": self.CYCLE_ROWS, "batches": self.BATCHES,
                      "cycle_input_mb": round(sum(b for _, _, b in self.batches) / 1e6, 2)}
        self.t = None

    def table_roots(self) -> list[str]:
        return [self.t.root] if self.t is not None else []

    def _new_table(self) -> None:
        if self.t is not None:
            self.written_bytes()  # account the old table before dropping it
            shutil.rmtree(self.t.root, ignore_errors=True)
        self.cycle += 1
        self.t = Table.create(os.path.join(self.work, f"maintain_{self.cycle}"),
                              IMAGES_SCHEMA, partition_spec=["fmt"],
                              properties={"bloom.columns": "image_id"})
        self.appended = []
        self.compact_seen = 0

    def round(self, batches: int | None = None):
        self._new_table()
        for i, (path, rows, nbytes) in enumerate(self.batches[:batches]):
            yield "append", lambda p=path, r=rows, b=nbytes, i=i: self._append(p, r, b, i)
        yield "cluster", self._cluster
        yield "transcode", self._transcode
        yield "manifests", self._manifests
        yield "expire", self._expire

    def warmup(self):
        """A short cycle: two appends, then one of each end-of-cycle op."""
        yield from self.round(batches=2)

    def _append(self, path, rows, nbytes, i) -> Op:
        self.t.append(self.spark, self.spark.read.parquet(path),
                      commit_key=f"c{self.cycle}-b{i}")
        mm = auto.maybe_maintain(self.t, self.spark)
        self.appended.append(path)
        return Op(rows=rows, in_bytes=nbytes, result=mm)

    def _cluster(self) -> Op:
        nbytes = sum(e.bytes for e in self.t.files())
        r = clustering.cluster_rewrite(self.t, self.spark, columns=CLUSTER_COLS,
                                       curve="zorder",
                                       target_file_bytes=max(1, nbytes // 8))
        return Op(rows=r.get("rows", 0), result=r)

    def _transcode(self) -> Op:
        r = transcode.transcode_rewrite(self.t, self.spark, target_fmt="lossy",
                                        quality=96, target_file_count=self.nproc)
        return Op(rows=r["rows"], result=r)

    def _manifests(self) -> Op:
        return Op(result=manifests.rewrite_manifests(self.t))

    def _expire(self) -> Op:
        return Op(result=expire.expire_snapshots(self.t, keep_last=1, grace_s=0))

    def _expected(self, cols):
        pdf = pd.concat([pd.read_parquet(p, columns=cols) for p in self.appended])
        return row_checksum(pdf, cols)

    def verify(self, kind: str, op: Op) -> bool:
        if kind == "append":
            if not op.result.get("compacted"):
                return True
            op.extra["compact_bytes"] = sum(
                int(s.summary.get("removed_bytes", 0)) for s in self.t.snapshots()
                if s.operation == "compact" and s.snapshot_id > self.compact_seen)
            self.compact_seen = self.t.current_snapshot_id()
            return table_checksum(self.spark, self.t) == self._expected(CHECK_COLS)
        if kind == "cluster":
            return table_checksum(self.spark, self.t) == self._expected(CHECK_COLS)
        if kind == "transcode":
            cols = ["image_id", "caption"]
            return table_checksum(self.spark, self.t, cols) == self._expected(cols)
        if kind == "expire":
            return (len(self.t.snapshots()) == 1
                    and self.t.metadata().current_snapshot().summary["total_rows"]
                    == sum(len(pd.read_parquet(p, columns=["w"])) for p in self.appended))
        return True


# ---------------------------------------------------------------------------


class UpsertScan(Workload):
    """Bulk CoW and MoR merges, trickle merges, range scans, point
    lookups and full scans interleaved on one clustered, bloomed,
    bucketed table whose snapshot history is never expired."""

    name = "upsert_scan"
    TABLE_ROWS = 1000
    SOURCES = 4           # merge sources; reused round-robin
    TRICKLES = 10
    TRICKLE_KEYS = 12
    RANGE = (-(2 ** 62), 0)

    def setup(self) -> None:
        spark = self.spark
        self.n_bases = max(64, self.TABLE_ROWS // 4)
        d = os.path.join(self.work, "inputs")
        self.t = Table.create(os.path.join(self.work, "images"), IMAGES_SCHEMA,
                              partition_spec=["fmt"],
                              properties={"bloom.columns": "image_id"})
        with self.step("generate_table"):
            batches = inputs.image_batches(d, self.seed, self.TABLE_ROWS, 1, self.n_bases)
            base = pd.concat([pd.read_parquet(p) for p, _, _ in batches])
            self.state = {r.image_id: (r.caption, r.phash, r.w)
                          for r in base[["image_id", "caption", "phash", "w"]].itertuples()}
        with self.step("ingest"):
            for i, (p, _, _) in enumerate(batches):
                self.t.append(spark, spark.read.parquet(p), commit_key=f"ingest-{i}")
        with self.step("cluster"):
            self.t.update_partition_spec(["fmt", "bucket(image_id, 8)"])
            self._cluster()
            # bulk merges (most files affected) re-key into the recorded
            # layout; trickle merges stay below the threshold and do not
            table_bytes = sum(e.bytes for e in self.t.files())
            self.t.set_properties({"merge.cluster-rekey-min-bytes": str(table_bytes // 4)})

        with self.step("generate_sources"):
            rng = np.random.default_rng([self.seed, 3])
            ids = inputs.id_base(self.seed) + np.arange(self.TABLE_ROWS, dtype=np.int64)
            n_upd, n_ins = self.TABLE_ROWS // 20, self.TABLE_ROWS // 100
            self.bulk = []
            for k in range(self.SOURCES):
                p = os.path.join(d, f"bulk_{k:02d}.parquet")
                src, nbytes = inputs.merge_source(p, self.seed, self.n_bases, rng, ids,
                                                  n_upd, n_ins, k, f"v{k}")
                self.bulk.append((p, nbytes, len(src)))
            self.trickle = []
            for k in range(self.TRICKLES):
                p = os.path.join(d, f"trickle_{k:02d}.parquet")
                src, nbytes = inputs.merge_source(p, self.seed, self.n_bases, rng, ids,
                                                  self.TRICKLE_KEYS, 0, 0, f"t{k}")
                self.trickle.append((p, nbytes, len(src)))
        self.points = [inputs.image_id(int(i)) for i in rng.choice(ids, 64, replace=False)]
        self.n_bulk = self.n_trickle = self.n_point = 0
        self.sizes = {"table_rows": self.TABLE_ROWS, "bulk_update_rows": n_upd,
                      "bulk_insert_rows": n_ins, "trickle_keys": self.TRICKLE_KEYS,
                      "table_mb": round(sum(e.bytes for e in self.t.files()) / 1e6, 2)}

    def table_roots(self) -> list[str]:
        return [self.t.root]

    def _cluster(self) -> dict:
        nbytes = sum(e.bytes for e in self.t.files())
        return clustering.cluster_rewrite(self.t, self.spark, columns=CLUSTER_COLS,
                                          curve="zorder",
                                          target_file_bytes=max(1, nbytes // 2))

    def live_delete_seqs(self) -> int:
        return len({d.seq for d in self.t.delete_files()})

    def round(self):
        # One delete cycle: a bulk MoR merge and a full scan on the split
        # delete path, then trickle MoR merges until the live delete
        # sequences pass the split limit, so the scans after them apply
        # deletes with the seq-join path; a CoW merge last, then the fold.
        yield "merge_mor", lambda: self._merge(self.bulk, "merge-on-read")
        yield "full_scan", self._full
        for _ in range(Table.DELETE_SPLIT_MAX_SEQS):
            yield "merge_trickle", lambda: self._merge(self.trickle, "merge-on-read")
        yield "point_lookup", self._point
        yield "range_scan", self._range
        yield "full_scan", self._full
        yield "merge_cow", lambda: self._merge(self.bulk, "copy-on-write")
        if self.live_delete_seqs() > Table.DELETE_SPLIT_MAX_SEQS:
            yield "compact_deletes", self._fold

    def warmup(self):
        """One operation of each kind, ending with a fold, so every
        measured round starts with no live deletes."""
        yield "merge_mor", lambda: self._merge(self.bulk, "merge-on-read")
        yield "full_scan", self._full
        yield "merge_trickle", lambda: self._merge(self.trickle, "merge-on-read")
        yield "point_lookup", self._point
        yield "range_scan", self._range
        yield "merge_cow", lambda: self._merge(self.bulk, "copy-on-write")
        yield "compact_deletes", self._fold

    def _merge(self, pool, strategy) -> Op:
        if pool is self.bulk:
            path, nbytes, n = pool[self.n_bulk % len(pool)]
            self.n_bulk += 1
        else:
            path, nbytes, n = pool[self.n_trickle % len(pool)]
            self.n_trickle += 1
        r = merge.merge_into(self.t, self.spark.read.parquet(path), ["image_id"],
                             self.spark, strategy=strategy)
        return Op(rows=n, in_bytes=nbytes, result=r, extra={"path": path})

    def _range(self) -> Op:
        m: dict = {}
        flt = [("phash", "between", self.RANGE), ("w", "=", 64)]
        n = self.t.scan(self.spark, filters=flt, metrics_out=m).count()
        return Op(rows=n, result=n, extra={"scan": m})

    def _point(self) -> Op:
        key = self.points[self.n_point % len(self.points)]
        self.n_point += 1
        m: dict = {}
        rows = self.t.scan(self.spark, filters=[("image_id", "=", key)],
                           columns=["image_id", "caption"], metrics_out=m).collect()
        return Op(rows=len(rows), result=rows, extra={"scan": m, "key": key})

    def _full(self) -> Op:
        # which delete-apply path the scan takes (format/table.py _read_aligned)
        seqjoin = self.live_delete_seqs() > Table.DELETE_SPLIT_MAX_SEQS
        n = self.t.scan(self.spark).count()
        return Op(rows=n, result=n, extra={"seqjoin": seqjoin})

    def _fold(self) -> Op:
        r = compaction.compact_deletes(self.t, self.spark,
                                       target_file_bytes=32 * 1024 * 1024)
        return Op(rows=r.get("rows", 0), result=r)

    def _expected_checksum(self) -> tuple[int, int]:
        pdf = pd.DataFrame([(k, c, p) for k, (c, p, _) in self.state.items()],
                           columns=CHECK_COLS)
        return row_checksum(pdf, CHECK_COLS)

    def verify(self, kind: str, op: Op) -> bool:
        if kind.startswith("merge"):
            src = pd.read_parquet(op.extra["path"], columns=["image_id", "caption", "phash", "w"])
            for r in src.itertuples():
                self.state[r.image_id] = (r.caption, r.phash, r.w)
            return "snapshot_id" in op.result
        if kind == "full_scan":
            return op.result == len(self.state)
        if kind == "range_scan":
            lo, hi = self.RANGE
            want = sum(1 for _, p, w in self.state.values() if lo <= p <= hi and w == 64)
            return op.result == want
        if kind == "point_lookup":
            return [tuple(r) for r in op.result] == [
                (op.extra["key"], self.state[op.extra["key"]][0])]
        if kind == "compact_deletes":
            return (self.live_delete_seqs() == 0
                    and table_checksum(self.spark, self.t) == self._expected_checksum())
        return True

    def check_once(self) -> dict[str, bool]:
        flt = [("phash", "between", self.RANGE), ("w", "=", 64)]
        pruned = self.t.scan(self.spark, filters=flt, columns=CHECK_COLS).toPandas()
        lo, hi = self.RANGE
        full = (self.t.scan(self.spark)
                .filter(F.col("phash").between(lo, hi) & (F.col("w") == 64))
                .select(*CHECK_COLS).toPandas())
        return {"range_scan_equals_unpruned": row_checksum(pruned, CHECK_COLS)
                == row_checksum(full, CHECK_COLS)}


# ---------------------------------------------------------------------------

SILVER_YAML = """
version: "1.0"
source:
  bronze_table: "bronze.tpch.orders"
target:
  catalog: "silver"
  schema: "tpch"
  table: "orders_clean"
  write:
    mode: "merge"
    merge_keys: ["o_orderkey"]
dqx:
  checks:
    - name: amount_range
      check: {function: is_in_range, arguments: {column: o_totalprice, min_limit: 1000.0, max_limit: 400000.0}}
    - name: key_ok
      check:
        function: sql_expression
        arguments: {expression: "o_orderkey % 1000 <> 0"}
etl:
  standard:
    - method: trim_columns
      args: {columns: ["o_orderpriority"]}
    - method: deduplicate
      args: {keys: ["o_orderkey"], order_by: ["o_totalprice desc"]}
quarantine:
  remediate:
    - method: clamp_range
      args: {column: o_totalprice, min: 1000.0, max: 400000.0}
  sink:
    table: "monitoring.quarantine.orders_bronze"
"""

SILVER_ORACLE = """
    SELECT
      count(*) FILTER (o_totalprice < 1000 OR o_totalprice > 400000
                       OR o_orderkey % 1000 = 0),
      count(*) FILTER ((o_totalprice < 1000 OR o_totalprice > 400000
                        OR o_orderkey % 1000 = 0)
                       AND o_orderkey % 1000 <> 0),
      count(*) FILTER (o_orderkey % 1000 = 0),
      count(*) FILTER (o_orderkey % 1000 <> 0)
    FROM orders"""


class Curate(Workload):
    """The silver flow (checks, quarantine, remediate, ETL, MERGE) on an
    orders table, and MinHash and n-gram near-duplicate detection on a
    document corpus with the declared queries' parameters."""

    name = "curate"
    ORDERS = 30_000
    DOCS = 150            # the DuckDB pair oracles grow with its square
    # A round is a few seconds of mostly driver-side planning, which gets
    # faster for its first rounds as the JVM compiles it: warm up twice
    # and report the median of at least three rounds.
    WARM_ROUNDS = 2
    MIN_ROUNDS = 3

    def setup(self) -> None:
        import duckdb

        d = os.path.join(self.work, "inputs")
        self.orders_path = os.path.join(d, "orders.parquet")
        self.orders_bytes = inputs.write_parquet(inputs.orders(self.seed, self.ORDERS),
                                                 self.orders_path)
        self.docs_path = os.path.join(d, "documents.parquet")
        inputs.write_parquet(inputs.documents(self.seed, self.DOCS), self.docs_path)
        self.contract = load_silver_contract(SILVER_YAML)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{self.orders_path}')")
        self.silver_want = tuple(con.execute(SILVER_ORACLE).fetchone())
        con.close()
        self.pairs: dict[str, set] = {}
        self.sizes = {"orders_rows": self.ORDERS, "documents": self.DOCS}

    def table_roots(self) -> list[str]:
        root = os.path.join(self.work, "silver")
        out = []
        for dirpath, dirs, _files in os.walk(root):
            if "metadata" in dirs and Table.exists(dirpath):
                out.append(dirpath)
                dirs[:] = []
        return out

    def corpus(self):
        """The declared queries' corpus: documents plus near-copies of
        docs 0-9 (``text || ' tail'``, ids + 1_000_000)."""
        d = self.spark.read.parquet(self.docs_path).select("doc_id", "text")
        planted = d.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"))
        return d.unionByName(planted)

    def round(self):
        yield "silver", self._silver
        yield "minhash", self._minhash
        yield "ngram", self._ngram

    def warmup(self):
        for _ in range(self.WARM_ROUNDS):
            yield from self.round()

    def _silver(self) -> Op:
        cat = Catalog(os.path.join(self.work, "silver"))
        src = self.spark.read.parquet(self.orders_path)
        res = silver.run_pipeline(self.spark, self.contract, cat, source_df=src)
        return Op(rows=self.ORDERS, in_bytes=self.orders_bytes, result=res)

    def _minhash(self) -> Op:
        corpus = self.corpus()
        cand = dedup.minhash_near_dup_pairs(corpus, "doc_id", "text", num_hashes=96,
                                            bands=24, threshold=0.5)
        ver = dedup.shingle_jaccard_verify(cand, corpus, "doc_id", "text", shingle_k=5)
        rows = ver.filter(F.col("jaccard") >= 0.8).select(
            "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")).collect()
        return Op(rows=self.DOCS, result=rows)

    def _ngram(self) -> Op:
        d = self.spark.read.parquet(self.docs_path).select("doc_id", "text")
        rows = (dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.18)
                .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
                .collect())
        return Op(rows=self.DOCS, result=rows)

    def verify(self, kind: str, op: Op) -> bool:
        # dedup operators cache their gram sets; drop them so the next
        # round recomputes instead of reading this round's cache
        self.spark.catalog.clearCache()
        if kind == "silver":
            # every pipeline run starts from an empty catalog
            shutil.rmtree(os.path.join(self.work, "silver"), ignore_errors=True)
            self._seen.clear()
            r = op.result
            got = (r.quarantined_rows, r.remediated_rows, r.rejected_rows, r.merged_rows)
            return got == self.silver_want
        pairs = {(int(a), int(b), round(float(j), 4)) for a, b, j in op.result}
        self.pairs.setdefault(kind, pairs)
        return pairs == self.pairs[kind] and len(pairs) > 0

    def check_once(self) -> dict[str, bool]:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs_path}')")
        out = {}
        for kind, q in (("minhash", "docs_minhash_near_dup"), ("ngram", "docs_ngram_jaccard")):
            want = {(int(a), int(b), round(float(j), 4)) for a, b, j in con.execute(sql[q]).fetchall()}
            out[f"{kind}_pairs_equal_oracle"] = self.pairs.get(kind) == want
        con.close()
        return out


WORKLOADS = {w.name: w for w in (Maintain, UpsertScan, Curate)}
