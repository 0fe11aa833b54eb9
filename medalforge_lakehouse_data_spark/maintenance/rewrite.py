"""One maintenance rewrite unit: plan → pinned read → write → one commit.

``compact`` (one unit per partition, plus its drop-deletes unit),
``compact_deletes``, ``cluster_rewrite`` and ``transcode_rewrite`` all
swap files through ``rewrite_unit``. One attempt:

  1. reads the table metadata once; a unit whose commit key is already
     in the log returns that snapshot, marked ``resumed``, and reads and
     writes nothing — the commit log is the only resume ledger;
  2. takes the plan sequence from that metadata, or from the pinned
     ``snapshot_id``;
  3. calls the operator's ``plan(meta, snap)``: the data entries to
     rewrite and the spent delete entries, or None when there is
     nothing to do (no commit);
  4. reads exactly those data entries (``Table.read_entries``), so a
     file appended after the plan is neither read nor removed;
  5. calls the operator's ``write(rows, entries)``: the added entries
     and any table-property records;
  6. commits once through ``Table.rewrite_files`` with
     ``validate_from_sequence``, the property records in the same
     metadata version.

A pinned snapshot runs one attempt (a conflict reaches the caller); the
live table runs it under ``replan_on_conflict``. Every unit returns one
record built from its snapshot's summary (``unit_record``)."""

from __future__ import annotations

import time
import uuid
from typing import Callable, NamedTuple, Sequence

from pyspark.sql import DataFrame, SparkSession

from medalforge_lakehouse_data_spark.format.metadata import DataFile, Snapshot, TableMetadata
from medalforge_lakehouse_data_spark.format.table import Table, replan_on_conflict


class Plan(NamedTuple):
    data: Sequence[DataFile]  # read and replaced
    deletes: Sequence[DataFile] = ()  # spent: removed in the same commit


PlanFn = Callable[[TableMetadata, "Snapshot | None"], "Plan | None"]
WriteFn = Callable[[DataFrame, Sequence[DataFile]],
                   "tuple[list[DataFile], dict[str, str | None] | None]"]


def default_job_id(prefix: str) -> str:
    """A job id unique per call: two jobs started in the same second must
    not share the commit keys that mark their units done."""
    return f"{prefix}-{uuid.uuid4().hex}"


def unit_record(job_id: str, snap: Snapshot | None, t0: float,
                resumed: bool = False) -> dict:
    """The one result shape of a maintenance unit, read from the summary
    of the snapshot it committed (or found committed); zeros when the
    unit had nothing to do. Files, bytes and rows count data files only;
    ``delete_files`` counts the spent delete files the commit removed."""
    s = snap.summary if snap is not None else {}
    dt = time.monotonic() - t0
    rows = s.get("added_rows", 0)
    return {
        "job_id": job_id,
        "snapshot_id": snap.snapshot_id if snap is not None else None,
        "files_in": s.get("removed_files", 0),
        "files_out": s.get("added_files", 0),
        "bytes_in": s.get("removed_bytes", 0),
        "bytes_out": s.get("added_bytes", 0),
        "delete_files": s.get("removed_delete_files", 0),
        "rows": rows,
        "seconds": dt,
        "rows_per_s": rows / dt if dt > 0 else 0.0,
        "resumed": resumed,
    }


def rewrite_unit(
    table: Table,
    spark: SparkSession,
    operation: str,
    job_id: str,
    commit_key: str,
    plan: PlanFn,
    write: WriteFn | None = None,
    snapshot_id: int | None = None,
    extra_summary: dict | None = None,
    t0: float | None = None,
) -> dict:
    """Run one unit (see the module docstring) and return its
    ``unit_record``. A plan with no data entries reads and writes
    nothing and commits the removal of its spent delete files alone;
    a unit whose plans never hold data passes no ``write``."""
    t0 = time.monotonic() if t0 is None else t0

    def attempt() -> tuple[Snapshot | None, bool]:
        meta = table.metadata()
        prior = meta.find_commit(commit_key)
        if prior is not None:
            return prior, True
        if snapshot_id is not None:
            snap, plan_seq = meta.snapshot_by_id(snapshot_id), snapshot_id
        else:
            snap, plan_seq = meta.current_snapshot(), meta.last_sequence
        p = plan(meta, snap)
        if p is None:
            return None, False
        added, props = (write(table.read_entries(spark, p.data), p.data)
                        if p.data else ([], None))
        committed = table.rewrite_files(
            [e.path for e in p.data] + [d.path for d in p.deletes],
            added,
            operation=operation,
            commit_key=commit_key,
            extra_summary={"job_id": job_id, **(extra_summary or {})},
            validate_from_sequence=plan_seq,
            properties=props,
        )
        return committed, False

    snap, resumed = attempt() if snapshot_id is not None else replan_on_conflict(attempt)
    return unit_record(job_id, snap, t0, resumed)
