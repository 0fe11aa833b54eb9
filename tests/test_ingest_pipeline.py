"""End-to-end bronze ingest + silver pipeline (reference integration-test
parity: test_pipeline_integration.py — quarantine persisted, merge
counts, rejected fallback naming; test_orchestrator_* — modes, ledger)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medalforge_lakehouse_data_spark.pipeline import bronze as bronze_pipeline
from medalforge_lakehouse_data_spark.pipeline.silver import run_pipeline, _rejected_fqn
from medalforge_lakehouse_data_spark.plans.bronze_contract import load_bronze_contract
from medalforge_lakehouse_data_spark.plans.catalog import Catalog
from medalforge_lakehouse_data_spark.plans.silver_contract import load_silver_contract
from medalforge_lakehouse_data_spark.monitoring.runs import PipelineRunLogger

BRONZE_CONTRACT = {
    "version": "1.0",
    "catalog": "bronze",
    "schema": "sales",
    "table": "orders",
    "columns": [
        {"name": "id", "dtype": "string"},
        {"name": "customer_id", "dtype": "string"},
        {"name": "created_at", "dtype": "string"},
        {"name": "amount", "dtype": "double"},
    ],
    "partitions": [],
    "source": {"format": "csv", "options": {"header": "true"}},
}

# MOCK_DATA-style pathologies: mixed date formats, blank amount, null id,
# out-of-range amount, duplicate id (reference data/input/MOCK_DATA.csv)
CSV1 = """id,customer_id,created_at,amount
1,111-1111,3/14/2021,50.5
2,222-2222,2021-03-15,120.0
3,333-3333,bogus-date,80.0
,444-4444,2021-03-16,10.0
5,555-5555,2021-03-17,999999.0
5,555-5556,2021-03-18,30.0
"""
CSV2 = """id,customer_id,created_at,amount
7,777-7777,2021-04-01,70.0
"""

SILVER_YAML = """
version: "1.0"
source:
  bronze_table: "bronze.sales.orders"
target:
  catalog: "silver"
  schema: "sales"
  table: "sales_clean"
  write:
    mode: "merge"
    merge_keys: ["id"]
dqx:
  checks:
    - name: not_null_id
      check: {function: is_not_null, arguments: {column: id}}
    - name: amount_range
      check: {function: is_in_range, arguments: {column: amount, min_limit: 0, max_limit: 100000}}
    - name: created_at_valid
      check:
        function: sql_expression
        arguments: {expression: "to_date(created_at, 'yyyy-MM-dd') IS NOT NULL"}
etl:
  standard:
    - method: trim_columns
      args: {columns: ["id"]}
    - method: normalize_dates
      args: {columns: ["created_at"], format: "yyyy-MM-dd"}
    - method: deduplicate
      args: {keys: ["id"], order_by: ["created_at desc"]}
quarantine:
  remediate:
    - method: coerce_date
      args:
        column: created_at
        from_patterns: ["M/d/yyyy", "yyyy-MM-dd"]
        to_format: "yyyy-MM-dd"
    - method: clamp_range
      args: {column: amount, min: 0.0, max: 100000.0}
    - method: drop_if_null
      args: {columns: ["id"]}
  sink:
    table: "monitoring.quarantine.sales_bronze_data"
"""


@pytest.fixture()
def roots(tmp_path):
    raw = tmp_path / "raw" / "bronze" / "sales" / "orders"
    raw.mkdir(parents=True)
    (raw / "batch1.csv").write_text(CSV1)
    return str(tmp_path / "raw"), str(tmp_path / "bronze"), str(tmp_path / "warehouse")


def test_bronze_ingest_and_incremental(spark, roots):
    raw_root, bronze_root, _ = roots
    contract = load_bronze_contract(BRONZE_CONTRACT)
    plan, res = bronze_pipeline.run(spark, contract, raw_root, bronze_root)
    assert res.files_processed == 1 and res.rows_ingested == 6
    assert "bronze/sales/orders" in plan.location.replace(os.sep, "/")

    # re-run: ledger skips processed files
    _, res2 = bronze_pipeline.run(spark, contract, raw_root, bronze_root)
    assert res2.skipped and res2.rows_ingested == 0

    # drop a new file → only it is ingested
    with open(os.path.join(raw_root, "bronze/sales/orders/batch2.csv"), "w") as f:
        f.write(CSV2)
    _, res3 = bronze_pipeline.run(spark, contract, raw_root, bronze_root)
    assert res3.files_processed == 1 and res3.rows_ingested == 1

    from medalforge_lakehouse_data_spark.format.table import Table

    t = Table.load(plan.location)
    df = t.scan(spark)
    assert df.count() == 7
    assert "ingestion_date" in df.columns
    # audit partition present in layout
    assert any("ingestion_date" in e.partition for e in t.files())


def test_bronze_validate_only_mode(spark, roots):
    raw_root, bronze_root, _ = roots
    contract = load_bronze_contract(BRONZE_CONTRACT)
    plan, res = bronze_pipeline.run(spark, contract, raw_root, bronze_root, mode="validate+plan")
    assert res is None
    assert not os.path.exists(plan.location)
    with pytest.raises(ValueError):
        bronze_pipeline.parse_mode("bogus")


def test_silver_pipeline_end_to_end(spark, roots):
    _silver_end_to_end(spark, roots)


def test_silver_pipeline_end_to_end_ansi(spark, roots):
    """The same run and counts in a session with ANSI on (the default of a
    plain Spark 4 session): the contract's ``to_date`` check quarantines
    '3/14/2021' instead of failing the job on it."""
    ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    _silver_end_to_end(ansi, roots)


def _silver_end_to_end(spark, roots):
    raw_root, bronze_root, warehouse = roots
    contract_b = load_bronze_contract(BRONZE_CONTRACT)
    plan, _ = bronze_pipeline.run(spark, contract_b, raw_root, bronze_root)

    from medalforge_lakehouse_data_spark.format.table import Table

    src = Table.load(plan.location).scan(spark).drop("ingestion_ts", "ingestion_date")
    contract_s = load_silver_contract(SILVER_YAML)
    catalog = Catalog(warehouse)
    logger = PipelineRunLogger(os.path.join(warehouse, "_runs"), pipeline="silver")
    res = run_pipeline(spark, contract_s, catalog, source_df=src, run_logger=logger)

    # quarantined: id=1 (M/d/yyyy date fails strict check), id=3 (bogus
    # date), id=null, id=5/999999 (range) → 4 rows
    assert res.quarantined_rows == 4
    # remediated: id=1 coerced, id=5 clamped; bogus-date unfixable →
    # rejected; null id dropped by drop_if_null
    assert res.remediated_rows == 2
    assert res.rejected_rows == 1

    target = catalog.load("silver.sales.sales_clean")
    out = target.scan(spark)
    ids = sorted(r.id for r in out.collect())
    # valid: {2, 5(30.0 @3/18)}; remediated: {1, 5(clamped @3/17)};
    # union-dedup on created_at desc keeps 5@3/18 → final {1,2,5}
    assert ids == ["1", "2", "5"]
    amounts = {r.id: r.amount for r in out.collect()}
    assert amounts["5"] == 30.0  # dedup kept the newer valid row
    # quarantine sink persisted with technical columns
    q = catalog.load("monitoring.quarantine.sales_bronze_data").scan(spark)
    assert q.count() == 4 and "_errors" in q.columns
    # rejected sink uses fallback naming
    rej = catalog.load(_rejected_fqn(contract_s)).scan(spark)
    assert rej.count() == 1
    # run ledger wrote success with metrics
    runs = PipelineRunLogger.read_all(os.path.join(warehouse, "_runs"))
    assert any(r["status"] == "succeeded" and r["metrics"]["rejected"] == 1 for r in runs)


def test_streaming_ingest_available_now(spark, tmp_path):
    """Structured Streaming path: readStream → foreachBatch → availableNow."""
    from medalforge_lakehouse_data_spark.format.table import Table
    from medalforge_lakehouse_data_spark.sources.ingest import ingest_stream
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    (src_dir / "a.csv").write_text("id,v\n1,1.0\n2,2.0\n")
    schema = StructType([StructField("id", StringType()), StructField("v", DoubleType())])
    from medalforge_lakehouse_data_spark.operators.etl_core import add_audit_columns

    tbl_schema = add_audit_columns(spark.createDataFrame([], schema)).schema
    t = Table.create(str(tmp_path / "tbl"), tbl_schema)
    res = ingest_stream(
        spark, str(src_dir), "csv", schema, t, str(tmp_path / "ckpt"),
        reader_options={"header": "true"},
    )
    assert res.rows_ingested == 2
    # second run: checkpoint skips the already-processed file
    res2 = ingest_stream(
        spark, str(src_dir), "csv", schema, t, str(tmp_path / "ckpt"),
        reader_options={"header": "true"},
    )
    assert res2.rows_ingested == 0
    assert t.scan(spark).count() == 2
