"""Round-6 fixes: ADVICE r5 items + optimization-round invariants.

1. changes() reads CoW-removed files with the PARENT snapshot's deletes
   applied — a row masked by an earlier MoR delete must not surface as a
   spurious 'delete' event when its old file is rewritten (ADVICE #1).
2. The coupon-collector bucket-prune skip is sized on DISTINCT keys,
   not source rows (ADVICE #3).
3. Empty-target insert merges take the append fast path with identical
   results and idempotency.
"""

from __future__ import annotations

from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.operators.merge import merge_into

SIMPLE = StructType([
    StructField("k", LongType()),
    StructField("val", StringType()),
])


def test_changes_cow_rewrite_applies_parent_deletes(spark, tmp_path):
    """MoR-delete K, append a new K elsewhere, then CoW-merge a sibling
    key living in K's old file: changes() must NOT emit a delete event
    for K at the rewrite commit (the old file's K row was already masked
    before the rewrite). Pre-fix, the raw read of the removed file
    surfaced K in old_rows and an incremental consumer would net-delete
    a key that is still live."""
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    t.append(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], SIMPLE),
        target_file_count=1)                                    # sid 1
    merge_into(t, spark.createDataFrame([(5, "x")], SIMPLE), ["k"], spark,
               when_matched="delete", when_not_matched=None,
               strategy="merge-on-read")                        # sid 2
    t.append(spark, spark.createDataFrame([(5, "new5")], SIMPLE),
             target_file_count=1)                               # sid 3
    merge_into(t, spark.createDataFrame([(3, "u3")], SIMPLE),
               ["k"], spark)                                    # sid 4 (CoW)

    ch = t.changes(spark, from_snapshot_id=3).collect()
    dels = {(r.k, r.val) for r in ch if r["_change_type"] == "delete"}
    ins = {(r.k, r.val) for r in ch if r["_change_type"] == "insert"}
    assert dels == {(3, "v3")}, f"spurious deletes: {dels}"
    assert ins == {(3, "u3")}
    # key 5's live row (the sid-3 append) is untouched by the window
    live = {(r.k, r.val) for r in t.scan(spark).collect()}
    assert (5, "new5") in live


def test_bucket_prune_uses_distinct_keys(spark, tmp_path):
    schema = StructType([
        StructField("k", IntegerType()),
        StructField("val", StringType()),
    ])
    t = Table.create(str(tmp_path / "t"), schema,
                     partition_spec=["bucket(k, 8)"])
    t.append(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(400)], schema), target_file_count=4)
    # duplicate-heavy source: 500 rows over 30 distinct keys. Row count
    # (500) exceeds the 4·N·lnN skip threshold for N=8 buckets, but the
    # DISTINCT key count (30) does not — pruning must still collect.
    dup_rows = [(k, f"d{k}-{j}") for k in range(30) for j in range(17)]
    src = spark.createDataFrame(dup_rows[:500], schema)
    out = merge_into(t, src, ["k"], spark, check_unique_keys=False,
                     when_matched=None, when_not_matched="insert")
    assert out["bucket_prune"] == "collected"


def test_empty_target_insert_merge_fast_path(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), SIMPLE)
    src = spark.createDataFrame([(i, f"v{i}") for i in range(50)], SIMPLE)
    out = merge_into(t, src, ["k"], spark, commit_key="first-merge")
    assert out["affected_files"] == 0 and out["files_total"] == 0
    assert {(r.k, r.val) for r in t.scan(spark).collect()} == {
        (i, f"v{i}") for i in range(50)}
    # idempotent resume on the same commit key
    again = merge_into(t, src, ["k"], spark, commit_key="first-merge")
    assert again.get("resumed") is True
    assert t.scan(spark).count() == 50


def _numpy_zorder_keys(rows, cols, bounds):
    """The driver-side reference key: ``zorder.normalize_to_bits`` then
    ``zorder.morton_interleave``, with NULL and NaN read as 0.0 as
    pandas' ``to_numpy(na_value=0.0)`` reads them."""
    import math

    import numpy as np

    from medalforge_lakehouse_data_spark.functions import zorder
    from medalforge_lakehouse_data_spark.maintenance.clustering import curve_bits

    bits = curve_bits(len(cols))
    norm = []
    for c in cols:
        v = np.array([0.0 if r[c] is None or (isinstance(r[c], float) and math.isnan(r[c]))
                      else float(r[c]) for r in rows], dtype=np.float64)
        norm.append(zorder.normalize_to_bits(v, bounds[c][0], bounds[c][1], bits))
    return [int(k) for k in zorder.morton_interleave(norm)]


def test_jvm_zorder_key_bit_identical_to_numpy(spark):
    """curve_key_col (the Morton key's only path, a Column) must produce
    the EXACT key the numpy kernel produces — layouts and recorded
    boundaries assume one keying."""
    import random

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from medalforge_lakehouse_data_spark.maintenance.clustering import with_curve_key

    rng = random.Random(7)
    rows = []
    for _ in range(400):
        def v():
            r = rng.random()
            if r < 0.05:
                return None
            if r < 0.08:
                return float("nan")
            if r < 0.10:
                return float("inf") if r < 0.09 else float("-inf")
            return rng.uniform(-1e9, 1e9)
        rows.append((rng.randrange(-(2**62), 2**62), v(), float(rng.uniform(0, 255))))
    schema = StructType([
        StructField("a", LongType()),
        StructField("b", DoubleType()),
        StructField("c", DoubleType()),
    ])
    df = spark.createDataFrame(rows, schema)
    for cols, bounds in [
        (("a", "b", "c"), {"a": (-(2**62), 2**62), "b": (-1e9, 1e9), "c": (0.0, 255.0)}),
        (("a", "b"), {"a": (-(2**62), 2**62), "b": (-1e9, 1e9)}),
        (("c",), {"c": (0.0, 255.0)}),
        (("a", "b"), {"a": (5, 5), "b": (-1e9, 1e9)}),  # degenerate bound
    ]:
        got = with_curve_key(df, cols, bounds, "zorder").collect()
        g = [r["_zkey"] for r in got]
        assert g == _numpy_zorder_keys(got, cols, bounds), f"key mismatch for {cols}"
        assert all(x is not None and x >= 0 for x in g)


def test_one_column_zorder_key_parity_at_recorded_bounds(spark):
    """One clustering column keys with 63 bits, where 2^63-1 rounds to
    the double 2^63: a value at exactly the recorded max must key to
    2^63-1 on both the Column path and the numpy kernel (the kernel used
    to wrap to -2^63). Checked in the repo's session and an ANSI-on one."""
    from pyspark.sql.types import DoubleType

    from medalforge_lakehouse_data_spark.maintenance.clustering import curve_key_col

    ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    cases = [
        ("a", LongType(), [-(2**62), -1, 0, 12345, 2**62]),
        ("c", DoubleType(), [0.0, 17.5, 255.0, float("inf")]),
    ]
    for session in (spark, ansi):
        for name, dtype, values in cases:
            finite = [v for v in values if v != float("inf")]
            bounds = {name: (min(finite), max(finite))}
            df = session.createDataFrame(
                [(v,) for v in values], StructType([StructField(name, dtype)]))
            rows = df.select(name, curve_key_col([name], bounds).alias("k")).collect()
            assert [r.k for r in rows] == _numpy_zorder_keys(rows, [name], bounds), name
            assert rows[0].k == 0
            assert max(r.k for r in rows) == 2**63 - 1
            assert all(r.k >= 0 for r in rows)
