"""Command-line entry points — reference CLI parity.

Reference surface being mirrored (reference: bronze/main.py:20-46 —
bronze_main --contract_path --mode --include_existing
--reprocess_label, env RAW_ROOT/BRONZE_ROOT; silver/main.py:16-21 —
silver_main --contract_path) plus the maintenance jobs this engine adds
(compact / cluster / expire / rewrite-manifests / merge are first-class
commands here, where the reference delegated to Databricks OPTIMIZE).

Cluster usage (north_rule): ship the package with
    spark-submit --py-files medalforge_lakehouse_data_spark.zip \
        -m this file's path ... (or console_scripts via pip install)
`tools/make_pyfiles_zip.py` builds the zip.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from medalforge_lakehouse_data_spark.session import get_spark

    return get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)


def cmd_bronze(args) -> int:
    from medalforge_lakehouse_data_spark.pipeline import bronze
    from medalforge_lakehouse_data_spark.plans.bronze_contract import load_bronze_contract
    from medalforge_lakehouse_data_spark.monitoring.runs import PipelineRunLogger

    contract = load_bronze_contract(args.contract_path)
    raw_root = args.raw_root or os.environ.get("RAW_ROOT")
    bronze_root = args.bronze_root or os.environ.get("BRONZE_ROOT")
    if not raw_root or not bronze_root:
        print("RAW_ROOT/BRONZE_ROOT required (flag or env)", file=sys.stderr)
        return 2
    logger = PipelineRunLogger(
        os.path.join(bronze_root, "_runs"), pipeline="bronze", schema=contract.schema_name
    )
    plan, result = bronze.run(
        _spark(args), contract, raw_root, bronze_root,
        mode=args.mode, include_existing=args.include_existing,
        reprocess_label=args.reprocess_label, run_logger=logger,
    )
    print(plan.describe())
    if result is not None:
        print(json.dumps(result.__dict__))
    return 0


def cmd_silver(args) -> int:
    from medalforge_lakehouse_data_spark.pipeline.silver import (
        run_pipeline, run_pipeline_incremental,
    )
    from medalforge_lakehouse_data_spark.plans.catalog import Catalog
    from medalforge_lakehouse_data_spark.plans.silver_contract import load_silver_contract
    from medalforge_lakehouse_data_spark.monitoring.runs import PipelineRunLogger

    contract = load_silver_contract(args.contract_path)
    warehouse = args.warehouse or os.environ.get("WAREHOUSE_ROOT")
    if not warehouse:
        print("WAREHOUSE_ROOT required (flag or env)", file=sys.stderr)
        return 2
    catalog = Catalog(warehouse)
    logger = PipelineRunLogger(
        os.path.join(warehouse, "_runs"), pipeline="silver",
        schema=contract.target.schema_name,
    )
    if args.incremental or args.full_refresh:
        res = run_pipeline_incremental(
            _spark(args), contract, catalog, run_logger=logger,
            on_delete=args.on_delete, full_refresh=args.full_refresh,
        )
    else:
        res = run_pipeline(_spark(args), contract, catalog, run_logger=logger)
    print(json.dumps({
        "merged_rows": res.merged_rows, "quarantined": res.quarantined_rows,
        "remediated": res.remediated_rows, "rejected": res.rejected_rows,
        "snapshot_id": res.target_snapshot_id,
        **{k: res.metrics[k] for k in
           ("cdc_from", "cdc_to", "cdc_inserts", "cdc_deletes")
           if k in res.metrics},
    }))
    return 0


def cmd_maintenance(args) -> int:
    from medalforge_lakehouse_data_spark.format.table import Table
    from medalforge_lakehouse_data_spark.maintenance import (
        clustering, compaction, expire, manifests,
    )

    t = Table.load(args.table_path)
    spark = None
    if args.job in ("compact", "cluster", "inspect"):
        spark = _spark(args)
    if args.job == "compact":
        out = compaction.compact(
            t, spark, target_file_bytes=args.target_file_bytes,
            job_id=args.job_id,
        )
    elif args.job == "cluster":
        out = clustering.cluster_rewrite(
            t, spark, columns=tuple(args.columns.split(",")),
            curve=args.curve, target_file_bytes=args.target_file_bytes,
            job_id=args.job_id,
        )
    elif args.job == "expire":
        out = expire.expire_snapshots(
            t, keep_last=args.keep_last, older_than_ms=args.older_than_ms,
            grace_s=args.grace_s, dry_run=args.dry_run,
        )
    elif args.job == "rewrite-manifests":
        out = manifests.rewrite_manifests(t, job_id=args.job_id)
    elif args.job == "rollback":
        if args.snapshot_id is None:
            raise SystemExit("rollback requires --snapshot_id")
        t.rollback_to(args.snapshot_id)
        out = {"current_snapshot_id": t.current_snapshot_id(),
               "ancestry": t.ancestry()}
    elif args.job == "tag":
        if not args.name:
            raise SystemExit("tag requires --name")
        sid = t.create_tag(args.name, args.snapshot_id, replace=args.replace)
        out = {"tag": args.name, "snapshot_id": sid, "tags": t.tags()}
    elif args.job == "untag":
        if not args.name:
            raise SystemExit("untag requires --name")
        t.remove_tag(args.name)
        out = {"removed": args.name, "tags": t.tags()}
    elif args.job == "inspect":
        rows = t.inspect(spark, args.kind,
                         snapshot_id=args.snapshot_id).collect()
        out = {"kind": args.kind, "rows": [r.asDict() for r in rows]}
    else:
        raise SystemExit(f"unknown job {args.job}")
    print(json.dumps(out))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="medalforge", description=__doc__)
    p.add_argument("--master", default=None, help="spark master (default local[all])")
    p.add_argument("--shuffle_partitions", type=int, default=None)
    sub = p.add_subparsers(dest="command", required=True)

    b = sub.add_parser("bronze", help="contract-driven incremental ingest")
    b.add_argument("--contract_path", required=True)
    b.add_argument("--mode", default="validate+plan+ingest")
    b.add_argument("--raw_root", default=None)
    b.add_argument("--bronze_root", default=None)
    b.add_argument("--include_existing", action=argparse.BooleanOptionalAction, default=True)
    b.add_argument("--reprocess_label", default=None)
    b.set_defaults(fn=cmd_bronze)

    s = sub.add_parser("silver", help="quality-gated transform + MERGE pipeline")
    s.add_argument("--contract_path", required=True)
    s.add_argument("--warehouse", default=None)
    s.add_argument("--incremental", action="store_true",
                   help="process only source changes since the stored cursor")
    s.add_argument("--on_delete", default="propagate",
                   choices=["propagate", "ignore"])
    s.add_argument("--full_refresh", action="store_true",
                   help="ignore the cursor, rebuild, fast-forward it")
    s.set_defaults(fn=cmd_silver)

    m = sub.add_parser("maintenance", help="table maintenance jobs")
    m.add_argument("job", choices=["compact", "cluster", "expire",
                                   "rewrite-manifests", "rollback",
                                   "tag", "untag", "inspect"])
    m.add_argument("--table_path", required=True)
    m.add_argument("--target_file_bytes", type=int, default=128 * 1024 * 1024)
    m.add_argument("--columns", default="phash,w,h", help="cluster columns (csv)")
    m.add_argument("--curve", default="zorder", choices=["zorder", "hilbert"])
    m.add_argument("--keep_last", type=int, default=None)
    m.add_argument("--older_than_ms", type=int, default=None)
    m.add_argument("--dry_run", action="store_true")
    m.add_argument("--grace_s", type=float, default=3600.0,
                   help="orphan files younger than this are spared (in-flight writers)")
    m.add_argument("--job_id", default=None)
    m.add_argument("--snapshot_id", type=int, default=None,
                   help="rollback target (an ancestor of current) / tag target")
    m.add_argument("--name", default=None, help="tag name")
    m.add_argument("--replace", action="store_true",
                   help="move an existing tag instead of refusing")
    m.add_argument("--kind", default="snapshots",
                   help="inspect kind: snapshots|history|refs|manifests|"
                        "files|delete_files")
    m.set_defaults(fn=cmd_maintenance)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
