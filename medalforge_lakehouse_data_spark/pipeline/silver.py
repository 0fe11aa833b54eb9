"""Silver pipeline: checks split → remediate → re-check → ETL → customs →
union → MERGE → quarantine/rejected sinks → metrics.

Stage order is the reference's, exactly (reference:
silver/application/pipeline.py:12-107):

  1. source scan
  2. checks split → (valid, quarantine)
  3. persist RAW quarantine (with technical columns) to the sink
  4. strip tech cols + remediation steps on quarantine
  5. re-check remediated rows → (fixed_valid, still_bad)
  6. standard ETL steps on BOTH valid branches (declared order)
  7. customs on both branches
  8. unionByName(allowMissingColumns=True)
  9. MERGE INTO target on contract merge_keys (+ optional cluster-by)
 10. still-bad rows → *_rejected sink (fallback naming
     <catalog>.<schema>_quarantine.<table>_rejected)
 11. run metrics

Perf deltas vs the reference (which recomputed both branches at every
action, noted in SURVEY.md §3.2): each checks pass caches ONE checked
plan and derives both branches as filters over it, so the source is
scanned once per pass regardless of how many actions fan out."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from medalforge_lakehouse_data_spark.customs.runner import CustomsRunner
from medalforge_lakehouse_data_spark.maintenance.clustering import cluster_rewrite
from medalforge_lakehouse_data_spark.operators import etl_core
from medalforge_lakehouse_data_spark.operators.checks import (
    apply_checks_and_split_cached,
)
from medalforge_lakehouse_data_spark.operators.merge import merge_into
from medalforge_lakehouse_data_spark.plans.catalog import Catalog
from medalforge_lakehouse_data_spark.plans.silver_contract import SilverContract
from medalforge_lakehouse_data_spark.monitoring.runs import PipelineRunLogger


@dataclass
class PipelineResult:
    merged_rows: int
    quarantined_rows: int
    remediated_rows: int
    rejected_rows: int
    target_snapshot_id: int | None
    metrics: dict = field(default_factory=dict)


def _rejected_fqn(contract: SilverContract) -> str:
    t = contract.target
    # reference fallback naming (pipeline.py:84-96)
    return f"{t.catalog}.{t.schema_name}_quarantine.{t.table}_rejected"


def run_pipeline(
    spark: SparkSession,
    contract: SilverContract,
    catalog: Catalog,
    source_df: DataFrame | None = None,
    run_logger: PipelineRunLogger | None = None,
    allowed_custom_prefixes: tuple[str, ...] | None = None,
    commit_key_prefix: str | None = None,
) -> PipelineResult:
    logger = run_logger or PipelineRunLogger(None)

    def _ck(stage: str) -> str | None:
        # commit keys make every sink write + merge idempotent, so a run
        # killed between its commits replays to the same table state
        # (incremental mode threads a per-window prefix through here)
        return f"{commit_key_prefix}-{stage}" if commit_key_prefix else None

    with logger:
        # 1. source
        if source_df is None:
            source_df = catalog.load(contract.source_table).scan(spark)

        # 2. split — both branches filter ONE cached checked plan, so the
        # source is scanned and the checks evaluated once (caching each
        # branch separately materialized the source scan twice; at scale
        # that doubles the silver source I/O — guide §5)
        valid_df, quarantine_df, checked = apply_checks_and_split_cached(
            source_df, contract.checks)
        cached = [checked]
        try:
            n_quarantine = quarantine_df.count()

            # 3. raw quarantine sink (with technical columns, as the reference
            # persists DQX's _errors for triage)
            if contract.quarantine_sink and n_quarantine:
                qsink_df = quarantine_df.withColumn(
                    "_errors", quarantine_df["_errors"].cast("string")
                ).withColumn("_warnings", quarantine_df["_warnings"].cast("string"))
                qt = catalog.ensure_table(contract.quarantine_sink, qsink_df.schema)
                qt.append(spark, qsink_df, commit_key=_ck("quarantine"))

            # 4. remediate quarantined rows
            fixed = etl_core.strip_technical_columns(quarantine_df)
            fixed = etl_core.run_steps(fixed, contract.remediate)

            # 5. re-check (same shared-cache shape)
            fixed_valid, still_bad, rechecked = apply_checks_and_split_cached(
                fixed, contract.checks)
            cached.append(rechecked)
            n_remediated = fixed_valid.count()

            # 6. standard steps on both branches (declared order = execution order)
            valid_out = etl_core.run_steps(valid_df, contract.etl_standard)
            fixed_out = etl_core.run_steps(fixed_valid, contract.etl_standard)

            # 7. customs on both branches
            if contract.customs_allow and contract.customs_registry:
                runner = CustomsRunner(
                    contract.customs_registry,
                    allow=True,
                    **(
                        {"allowed_prefixes": allowed_custom_prefixes}
                        if allowed_custom_prefixes
                        else {}
                    ),
                )
                valid_out = runner.apply_stage(valid_out, "standard", contract.customs_use_in)
                fixed_out = runner.apply_stage(fixed_out, "standard", contract.customs_use_in)

            # 8. union
            final = valid_out.unionByName(fixed_out, allowMissingColumns=True)
            # The reference dedups per branch only; a key colliding ACROSS
            # branches (a valid row and a remediated row sharing a merge key)
            # would make MERGE nondeterministic (README.md:379 — Delta errors).
            # We re-apply the contract's own declared deduplicate step on the
            # union so its ordering rule arbitrates cross-branch collisions.
            dedup_steps = [s for s in contract.etl_standard if s["method"] == "deduplicate"]
            if dedup_steps and contract.target.write.mode == "merge":
                final = etl_core.run_steps(final, dedup_steps)

            # 9. MERGE INTO target (ensure table from df schema, like
            # merge.py:144-149 ensure_external_table_from_df)
            t = contract.target
            target_table = catalog.ensure_table(
                t.fqn, final.schema, partition_spec=t.write.partition_by
            )
            # schema auto-evolution (Delta mergeSchema parity): a column the
            # source grew (e.g. bronze add_column mid-stream) is ADDED to the
            # target before the write — without this the merge's projection
            # to the target schema would silently drop the new data. Removed
            # columns stay loud (the projection fails), forcing an explicit
            # migration.
            existing = set(target_table.schema.fieldNames())
            for f in final.schema.fields:
                if f.name not in existing:
                    target_table.add_column(f.name, f.dataType)
            if t.write.mode == "merge":
                merge_into(target_table, final, t.write.merge_keys, spark,
                           commit_key=_ck("merge"))
            elif t.write.mode == "append":
                target_table.append(spark, final, commit_key=_ck("append"))
            elif t.write.mode == "overwrite":
                target_table.overwrite_all(spark, final)
            else:
                raise ValueError(f"unknown write mode {t.write.mode!r}")
            # post-merge clustering (reference: OPTIMIZE ZORDER after MERGE)
            if t.write.zorder_by:
                cluster_rewrite(
                    target_table, spark, columns=tuple(t.write.zorder_by), curve="zorder"
                )
            merged_rows = target_table.metadata().current_snapshot().summary.get("total_rows", 0)

            # 10. rejected sink
            n_rejected = still_bad.count()
            if n_rejected:
                rej_df = still_bad.withColumn(
                    "_errors", still_bad["_errors"].cast("string")
                ).withColumn("_warnings", still_bad["_warnings"].cast("string"))
                rt = catalog.ensure_table(_rejected_fqn(contract), rej_df.schema)
                rt.append(spark, rej_df, commit_key=_ck("rejected"))

            # 11. metrics
            logger.add_metrics(
                merged_rows=merged_rows,
                quarantined=n_quarantine,
                remediated=n_remediated,
                rejected=n_rejected,
            )
            return PipelineResult(
                merged_rows=merged_rows,
                quarantined_rows=n_quarantine,
                remediated_rows=n_remediated,
                rejected_rows=n_rejected,
                target_snapshot_id=target_table.current_snapshot_id(),
                metrics=dict(logger.metrics),
            )
        finally:
            for df in cached:
                df.unpersist()


# ---------------------------------------------------------------------------
# Incremental (CDC-driven) silver


CDC_CURSOR_PREFIX = "silver.cdc-cursor."


def run_pipeline_incremental(
    spark: SparkSession,
    contract: SilverContract,
    catalog: Catalog,
    run_logger: PipelineRunLogger | None = None,
    allowed_custom_prefixes: tuple[str, ...] | None = None,
    on_delete: str = "propagate",  # propagate | ignore
    full_refresh: bool = False,
) -> PipelineResult:
    """Incremental silver run: process only the bronze CHANGES committed
    since the last run, via ``Table.changes`` — O(delta) instead of the
    reference's per-run full re-read of the source
    (reference: silver/application/pipeline.py:29-30). At 100 TB bronze
    with a 0.1%% daily delta this is the difference between re-reading
    100 TB and reading 100 GB.

    Mechanics:
      * the cursor (last processed source snapshot id) lives as a
        property on the TARGET table, keyed by the source table's uuid —
        moving/renaming the source invalidates it loudly, and a target
        rebuilt from scratch naturally restarts from 0 (full load);
      * inserted row versions run the NORMAL pipeline (checks split →
        quarantine → remediate → ETL → customs → union → MERGE upsert);
      * deleted keys are propagated as a MERGE delete on the contract's
        merge_keys — keys that also appear in the window's inserts are
        skipped (the upsert supersedes them), which makes the
        delete-then-upsert pair order-independent. Requires the merge
        keys to pass through ETL unchanged (ids do; a contract that
        rewrites its keys must use full runs). ``on_delete="ignore"``
        drops delete propagation (append-only consumers);
      * every sink append and merge carries a per-window commit key, so
        a run killed between commits REPLAYS to the same table state
        (exactly-once); the cursor advances only after all commits;
      * ``full_refresh=True`` ignores the cursor, runs the classic full
        pipeline, and fast-forwards the cursor — the escape hatch after
        the cursor's snapshot was expired.

    Requires ``write.mode == "merge"``. Returns the usual
    PipelineResult; ``metrics`` gains cdc_from/cdc_to/cdc_inserts/
    cdc_deletes.
    """
    from pyspark.sql import functions as F

    t = contract.target
    if t.write.mode != "merge":
        raise ValueError("incremental silver requires write.mode == 'merge'")
    if on_delete not in ("propagate", "ignore"):
        raise ValueError(f"on_delete must be propagate|ignore, got {on_delete}")
    src = catalog.load(contract.source_table)
    src_meta = src.metadata()
    src_current = src_meta.current_snapshot_id
    cursor_key = f"{CDC_CURSOR_PREFIX}{src_meta.table_uuid}"

    cursor = 0
    if catalog.table_exists(t.fqn) and not full_refresh:
        cursor = int(catalog.load(t.fqn).metadata().properties.get(cursor_key, "0"))

    def _finish(res: PipelineResult, n_ins: int, n_del: int) -> PipelineResult:
        target = catalog.load(t.fqn)
        target.set_properties({cursor_key: str(src_current or 0)})
        res.metrics.update(cdc_from=cursor, cdc_to=src_current,
                           cdc_inserts=n_ins, cdc_deletes=n_del)
        return res

    if full_refresh:
        res = run_pipeline(
            spark, contract, catalog, run_logger=run_logger,
            allowed_custom_prefixes=allowed_custom_prefixes,
            commit_key_prefix=f"silver-full-{src_meta.table_uuid}-{src_current}",
        )
        return _finish(res, res.merged_rows, 0)

    if src_current is None or cursor == src_current:
        return PipelineResult(0, 0, 0, 0,
                              catalog.load(t.fqn).current_snapshot_id()
                              if catalog.table_exists(t.fqn) else None,
                              metrics={"cdc_from": cursor, "cdc_to": src_current,
                                       "cdc_inserts": 0, "cdc_deletes": 0,
                                       "noop": True})

    try:
        delta = src.changes(spark, from_snapshot_id=cursor,
                            to_snapshot_id=src_current).cache()
    except (KeyError, ValueError) as e:
        # KeyError: the cursor snapshot was expired; ValueError: the
        # source was rolled back and the cursor sits on an abandoned
        # branch — either way the window cannot be replayed
        raise RuntimeError(
            f"CDC cursor snapshot {cursor} is not on the source's "
            f"current history (expired or rolled back); run with "
            f"full_refresh=True to rebuild the window") from e
    cached = [delta]  # released on every exit, the raises below included
    try:
        names = [f.name for f in src.schema.fields]
        keys = list(t.write.merge_keys)
        missing = [k for k in keys if k not in names]
        if missing:
            raise ValueError(
                f"merge keys {missing} not in source columns — incremental "
                f"delete propagation needs contract keys present in bronze")

        # Reduce the window to its NET effect per merge key — last event
        # wins, ties inside one commit go to the insert (an upsert commit
        # emits delete+insert at the same snapshot; its equality delete only
        # applies to EARLIER sequences):
        #   * net upsert: rows of the key's last insert commit, when no
        #     later delete exists (in-commit duplicates survive, so the
        #     contract's own dedup/unique-key rule still arbitrates them);
        #   * net delete: the key's last event is a delete.
        from functools import reduce as _reduce

        cid = F.col("_commit_snapshot_id")
        per_key = delta.groupBy(*keys).agg(
            F.max(F.when(F.col("_change_type") == "insert", cid)).alias("_mi"),
            F.max(F.when(F.col("_change_type") == "delete", cid)).alias("_md"),
        ).cache()
        cached.append(per_key)
        # null-safe key join: a bronze row with a NULL merge key must still
        # flow to the pipeline (its checks/quarantine), not vanish here
        d = delta.filter(F.col("_change_type") == "insert").alias("d")
        p = per_key.alias("p")
        on = _reduce(lambda a, b: a & b,
                     [F.col(f"d.{k}").eqNullSafe(F.col(f"p.{k}")) for k in keys])
        inserts = (d.join(p, on)
                   .filter((F.col("d._commit_snapshot_id") == F.col("p._mi"))
                           & (F.col("p._md").isNull()
                              | (F.col("p._mi") >= F.col("p._md"))))
                   .select(*[F.col(f"d.{n}") for n in names]))
        n_inserts = inserts.count()

        # Idempotency prefix keyed on the CURSOR only (not the window head):
        # a run that dies after its quarantine/rejected appends and retries
        # after bronze advanced gets the SAME prefix, so the overlapping
        # sub-window's sink appends replay (skip) instead of re-appending
        # duplicates under a fresh head-scoped key (ADVICE r5 #5). The merge
        # itself is per-key idempotent either way; the retried (larger)
        # window's inserts all flow through it.
        prefix = f"silver-inc-{src_meta.table_uuid}-{cursor}"
        res = run_pipeline(
            spark, contract, catalog, source_df=inserts, run_logger=run_logger,
            allowed_custom_prefixes=allowed_custom_prefixes,
            commit_key_prefix=prefix,
        )

        n_deletes = 0
        if on_delete == "propagate":
            del_keys = per_key.filter(
                F.col("_md").isNotNull()
                & (F.col("_mi").isNull() | (F.col("_md") > F.col("_mi")))
            ).select(*keys).cache()
            cached.append(del_keys)
            n_null = del_keys.filter(
                _reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
            ).count() if keys else 0
            if n_null:
                raise ValueError(
                    f"{n_null} deleted rows carry NULL merge keys (bronze "
                    f"delete files keyed on other columns); use on_delete="
                    f"'ignore' or full_refresh=True")
            n_deletes = del_keys.count()
            if n_deletes:
                target = catalog.load(t.fqn)
                # merge sources carry the full target schema; pad non-key
                # columns with NULL (delete never reads them)
                padded = del_keys.select(*[
                    F.col(f.name) if f.name in keys
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in target.schema.fields])
                merge_into(target, padded, keys, spark,
                           when_matched="delete", when_not_matched=None,
                           commit_key=f"{prefix}-cdc-delete")
    finally:
        for df in cached:
            df.unpersist()
    out = _finish(res, n_inserts, n_deletes)
    out.target_snapshot_id = catalog.load(t.fqn).current_snapshot_id()
    return out
