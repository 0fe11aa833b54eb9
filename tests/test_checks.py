"""Quality-check engine: split semantics, alias normalization, graft
image checks (decodable / phash_matches / psnr_at_least)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medalforge_lakehouse_data_spark.operators.checks import (
    apply_checks_and_split,
    normalize_check,
)
from medalforge_lakehouse_data_spark.testing.datagen import dirty_images_df


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, None, 20.0),
            (3, "c", -5.0),
            (4, "c", 999999.0),
            (4, "d", 30.0),
        ],
        ["id", "name", "amount"],
    )


CHECKS = [
    {"name": "name_not_null", "criticality": "error",
     "check": {"function": "is_not_null", "arguments": {"col_name": "name"}}},
    {"name": "amount_range", "criticality": "error",
     "check": {"function": "is_in_range",
               "arguments": {"column": "amount", "min_limit": 0.0, "max_limit": 100000.0}}},
    {"name": "id_unique", "criticality": "error",
     "check": {"function": "unique", "arguments": {"columns": "id"}}},
    {"name": "amount_positive_warn", "criticality": "warn",
     "check": {"function": "sql_expression", "arguments": {"expression": "amount > 15"}}},
]


def test_split(df):
    valid, quar = apply_checks_and_split(df, CHECKS)
    assert {r.id for r in valid.collect()} == {1}
    q = {(r.id, r.name) for r in quar.collect()}
    assert q == {(2, None), (3, "c"), (4, "c"), (4, "d")}
    # technical cols stripped from valid, kept in quarantine
    assert "_errors" not in valid.columns and "_errors" in quar.columns


def test_error_names_recorded(df):
    _, quar = apply_checks_and_split(df, CHECKS)
    errs = {r.id: sorted(e.name for e in r._errors) for r in quar.collect()}
    assert errs[2] == ["name_not_null"]
    assert "id_unique" in errs[4]


def test_warnings_do_not_quarantine(df):
    valid, _ = apply_checks_and_split(df, CHECKS)
    # id=1 amount=10 violates the warn check but stays valid
    assert 1 in {r.id for r in valid.collect()}


def test_alias_normalization():
    c = normalize_check(
        {"check": {"function": "not_null", "arguments": {"col_name": "x"}}}
    )
    assert c["check"]["function"] == "is_not_null"
    assert c["check"]["arguments"] == {"column": "x"}
    assert c["criticality"] == "error"
    c2 = normalize_check(
        {"check": {"function": "is_in_range",
                   "arguments": {"column": "x", "min_limit": 5.0}}}
    )
    assert c2["check"]["arguments"]["min_limit"] == 5


def test_sql_expression_null_is_violation(spark):
    df = spark.createDataFrame([(1, "2021-01-01"), (2, None)], ["id", "d"])
    checks = [{"name": "d_parses", "criticality": "error",
               "check": {"function": "sql_expression",
                         "arguments": {"expression": "to_date(d,'yyyy-MM-dd') IS NOT NULL"}}}]
    valid, quar = apply_checks_and_split(df, checks)
    assert {r.id for r in valid.collect()} == {1}


def test_unknown_check_rejected(df):
    with pytest.raises(ValueError, match="unknown check function"):
        apply_checks_and_split(df, [{"check": {"function": "bogus", "arguments": {}}}])


def test_image_checks_on_dirty_table(spark):
    df = dirty_images_df(spark, 400, seed=5)
    checks = [
        {"name": "id_not_null", "criticality": "error",
         "check": {"function": "is_not_null", "arguments": {"column": "image_id"}}},
        {"name": "img_decodable", "criticality": "error",
         "check": {"function": "decodable", "arguments": {"column": "bytes"}}},
        {"name": "phash_ok", "criticality": "error",
         "check": {"function": "phash_matches",
                   "arguments": {"bytes_column": "bytes", "phash_column": "phash"}}},
        {"name": "w_range", "criticality": "error",
         "check": {"function": "is_in_range",
                   "arguments": {"column": "w", "min_limit": 1, "max_limit": 4096}}},
    ]
    valid, quar = apply_checks_and_split(df, checks)
    nv, nq = valid.count(), quar.count()
    assert nv + nq == 400 and nq > 0
    # every valid row must decode and phash-match
    from medalforge_lakehouse_data_spark.operators.multimodal import with_verification
    v = with_verification(valid).select(
        F.min(F.col("_phash_check") == F.col("phash")).alias("ok"),
        F.min("_decodable").alias("dec")).collect()[0]
    assert v.ok and v.dec


def test_sql_expression_throwing_calls_run_as_try_twins():
    from medalforge_lakehouse_data_spark.operators.checks import _ansi_safe

    assert _ansi_safe("to_date(d, 'yyyy-MM-dd') IS NOT NULL AND CAST (x AS INT) > 0"
                      " AND To_Timestamp(t) < now()") == (
        "try_to_date(d, 'yyyy-MM-dd') IS NOT NULL AND try_cast (x AS INT) > 0"
        " AND try_to_timestamp(t) < now()")
    # literals, backticked names, try_* calls and other functions are kept
    kept = ("s = 'to_date(x)' AND t = \"cast(\" AND `cast(`(a) AND try_cast(b AS INT) = 1"
            " AND try_to_date(c) IS NULL AND my_to_date(d) AND e = 'it\\'s cast('")
    assert _ansi_safe(kept) == kept
