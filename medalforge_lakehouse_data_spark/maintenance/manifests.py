"""Manifest rewrite: coalesce many small manifests into few large ones.

Every append adds one manifest; after thousands of commits, scan
planning degrades to thousands of metadata reads (the same problem
Iceberg's rewrite_manifests solves). This job rewrites the CURRENT
snapshot's manifest list, grouping entries by partition so partition
pruning can skip whole manifests; data files are untouched."""

from __future__ import annotations

import time

from medalforge_lakehouse_data_spark.format.metadata import read_manifest, write_manifest
from medalforge_lakehouse_data_spark.format.table import Table
from medalforge_lakehouse_data_spark.maintenance.rewrite import default_job_id


def rewrite_manifests(
    table: Table,
    target_entries_per_manifest: int = 50_000,
    job_id: str | None = None,
) -> dict:
    t0 = time.monotonic()
    job_id = job_id or default_job_id("manifests")
    if table.metadata().current_snapshot() is None:
        return {"job_id": job_id, "manifests_in": 0, "manifests_out": 0}
    # All reads happen inside build(), i.e. UNDER the commit lock: a commit
    # landing between a pre-lock read and the pointer swap would otherwise
    # be silently dropped from the rewritten manifest list (round-1 ADVICE
    # high: its added files lost, its removed files resurrected).
    stats = {}

    def build(meta, sid):
        parent = meta.current_snapshot()
        entries = []
        for m in parent.manifest_list:
            entries.extend(read_manifest(table.root, m))
        # group by partition tuple; keep groups contiguous so each output
        # manifest covers few partitions (→ manifest-level pruning later)
        entries.sort(key=lambda e: (tuple(sorted(e.partition.items())), e.path))
        chunks = [
            entries[i : i + target_entries_per_manifest]
            for i in range(0, len(entries), target_entries_per_manifest)
        ] or []
        new_manifests = [write_manifest(table.root, c) for c in chunks]
        stats.update(manifests_in=len(parent.manifest_list),
                     manifests_out=len(new_manifests), entries=len(entries))
        summary = dict(parent.summary)
        summary.update(
            {"job_id": job_id, "manifests_in": len(parent.manifest_list),
             "manifests_out": len(new_manifests),
             "added_files": 0, "removed_files": 0,
             "added_rows": 0, "removed_rows": 0}
        )
        return new_manifests, summary

    new_snap = table._commit("rewrite-manifests", build, commit_key=f"{job_id}:rewrite")
    return {
        "job_id": job_id,
        "snapshot_id": new_snap.snapshot_id,
        "manifests_in": stats.get("manifests_in", 0),
        "manifests_out": stats.get("manifests_out", 0),
        "entries": stats.get("entries", 0),
        "seconds": time.monotonic() - t0,
    }
