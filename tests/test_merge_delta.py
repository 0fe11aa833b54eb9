"""One MERGE delta for both strategies: every clause pair under
copy-on-write and merge-on-read against a pure-Python model, the caches
a merge leaves behind, the copy-on-write re-plan after a concurrent
delete, and the merge-family declared queries against their oracles."""

from __future__ import annotations

import itertools
import os
import sys

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from conftest import SF_DIR
from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.operators.merge import merge_into

SCHEMA = StructType([
    StructField("k", LongType()),
    StructField("val", StringType()),
    StructField("note", StringType()),
])

# keys 1 and 2 are duplicated and their siblings fire differently under
# the condition (on (2, None) it is NULL, which does not fire), key None
# never matches, keys 5.. are unmatched targets
TARGET = [(1, "a1", "n1"), (1, "b1", "n1b"), (2, "a2", "n2"), (2, None, "n2b"),
          (3, "a3", "n3"), (4, "b4", "n4"), (None, "a0", "n0"), (5, "a5", "n5"),
          (6, "b6", "n6")]
SOURCE = [(1, "s1", "S"), (2, "s2", "S"), (3, "s3", "S"), (4, "s4", "S"),
          (10, "s10", "S"), (11, "s11", "S")]
CONDITION = "t.val LIKE 'a%'"  # fires on one sibling of key 1, and on 2, 3


def _model(when_matched, when_not_matched, conditional):
    """Rows a MERGE must leave, computed row by row in Python."""
    src = {s[0]: s for s in SOURCE}
    out = []
    for t in TARGET:
        s = src.get(t[0]) if t[0] is not None else None
        if s is None or when_matched is None:
            out.append(t)
        elif conditional and not (t[1] or "").startswith("a"):
            out.append(t)  # condition false or NULL: untouched
        elif when_matched == "update":
            # conditional clauses here also restrict the SET to val
            out.append((t[0], s[1], t[2]) if conditional else None)
    if when_matched == "update" and not conditional:
        # all-columns update: every matched key becomes its source row
        tkeys = {t[0] for t in TARGET}
        out += [s for s in SOURCE if s[0] in tkeys]
    if when_not_matched == "insert":
        out += [s for s in SOURCE if s[0] not in {t[0] for t in TARGET}]
    return sorted((r for r in out if r is not None), key=repr)


CLAUSES = [(m, n) for m, n in itertools.product(("update", "delete", None),
                                                ("insert", None))
           if (m, n) != (None, None)]
CASES = [(m, n, c) for m, n in CLAUSES for c in (False, True)
         if not (c and m is None)]


@pytest.mark.parametrize("strategy", ["copy-on-write", "merge-on-read"])
def test_merge_delta_parity(spark, tmp_path, strategy):
    """Both strategies leave exactly the model's rows for every clause
    pair, unconditional and with matched_condition (+ update_columns
    for updates), with duplicate target keys, a NULL target key and a
    condition that is NULL on one sibling of a fired key."""
    for i, (matched, not_matched, conditional) in enumerate(CASES):
        t = Table.create(str(tmp_path / f"t{i}"), SCHEMA)
        t.append(spark, spark.createDataFrame(TARGET, SCHEMA), target_file_count=2)
        kw = {}
        if conditional:
            kw["matched_condition"] = CONDITION
            if matched == "update":
                kw["update_columns"] = ["val"]
        m = merge_into(t, spark.createDataFrame(SOURCE, SCHEMA), ["k"], spark,
                       when_matched=matched, when_not_matched=not_matched,
                       strategy=strategy, **kw)
        case = (strategy, matched, not_matched, conditional)
        assert m["strategy"] == strategy, case
        got = sorted((tuple(r) for r in t.scan(spark).collect()), key=repr)
        assert got == _model(matched, not_matched, conditional), case
        if strategy == "merge-on-read":
            assert m["affected_files"] == 0, case


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_merge_releases_caches_on_every_exit(spark, tmp_path):
    """The empty-source no-op, the duplicate-key error and the bad
    update_columns error leave no cached frame, and neither does a
    conditional merge (its matched rows are cached while it runs)."""
    simple = StructType(SCHEMA.fields[:2])
    t = Table.create(str(tmp_path / "t"), simple)
    t.append(spark, spark.createDataFrame([(i, f"v{i}") for i in range(10)], simple))
    spark.catalog.clearCache()

    assert merge_into(t, spark.createDataFrame([], simple), ["k"], spark)["noop"]
    assert _cache_empty(spark), "empty-source no-op leaked the source cache"
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_into(t, spark.createDataFrame([(1, "a"), (1, "b")], simple), ["k"], spark)
    assert _cache_empty(spark), "duplicate-key error leaked the source cache"
    with pytest.raises(ValueError, match="not updatable"):
        merge_into(t, spark.createDataFrame([(1, "a")], simple), ["k"], spark,
                   update_columns=["nope"])
    assert _cache_empty(spark), "bad update_columns leaked the source cache"
    for strategy in ("copy-on-write", "merge-on-read"):
        merge_into(t, spark.createDataFrame([(1, "a")], simple), ["k"], spark,
                   matched_condition="s.val <> t.val", strategy=strategy)
        assert _cache_empty(spark), f"conditional {strategy} merge leaked a cache"


def test_cow_merge_replans_after_concurrent_mor_delete(spark, tmp_path, monkeypatch):
    """A merge-on-read delete lands between the copy-on-write upsert's
    read and its commit. The upsert re-plans instead of raising, and
    the deleted key stays deleted."""
    simple = StructType(SCHEMA.fields[:2])
    t = Table.create(str(tmp_path / "t"), simple)
    t.append(spark, spark.createDataFrame([(i, f"old_{i}") for i in range(30)], simple))

    real_read = Table.read_entries
    fired = {"done": False}

    def racing_read(self, spark_, entries, apply_deletes=True):
        df = real_read(self, spark_, entries, apply_deletes)
        if not fired["done"]:
            fired["done"] = True
            merge_into(Table(self.root), spark.createDataFrame([(7, "x")], simple),
                       ["k"], spark, when_matched="delete",
                       when_not_matched=None, strategy="merge-on-read")
            df = df.cache()
            df.count()  # materialize the STALE read (pre-delete row set)
        return df

    monkeypatch.setattr(Table, "read_entries", racing_read)
    src = spark.createDataFrame([(k, f"new_{k}") for k in (5, 6, 8, 40)], simple)
    merge_into(t, src, ["k"], spark)
    rows = {r.k: r.val for r in t.scan(spark).collect()}
    assert 7 not in rows, "copy-on-write merge resurrected a deleted row"
    assert rows[5] == "new_5" and rows[8] == "new_8" and rows[40] == "new_40"
    assert len(rows) == 30


MERGE_QUERIES = ["merge_upsert", "merge_delete", "merge_conditional",
                 "merge_mor_upsert", "merge_mor_delete", "merge_mor_conditional",
                 "incremental_scan", "incremental_before_images", "rollback_scan"]


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"testdata absent: {SF_DIR}")
def test_merge_family_queries_match_oracles(spark):
    """The merge-family declared queries equal their DuckDB oracles on
    the suite's sf0.001 data (the full gate runs at sf0.01 under
    ``-m oracle``)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "tools"))
    import __spark_entry__ as em
    from check_oracles import check_query, make_duckdb

    qs, oracles = em.queries(), em.oracle_sql()
    con = make_duckdb(SF_DIR)
    try:
        failed = {}
        for name in MERGE_QUERIES:
            err, msg = check_query(spark, con, qs, oracles, name, SF_DIR)
            if err is not None:
                failed[name] = msg
    finally:
        con.close()
    assert not failed, failed
