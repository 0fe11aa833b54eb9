"""Iceberg-style table metadata model: table-metadata → snapshots →
manifests → data-file entries with per-file column min/max stats.

Plays the role Delta/Unity-Catalog DDL plays in the reference
(reference: src/onedata/bronze/managers/table_manager.py:182-258,
src/onedata/silver/utils/merge.py:40-79) but as our own from-scratch
format, since the sandbox has no Delta/Iceberg runtime.

All metadata is driver-side JSON; data files are Parquet. A snapshot is
immutable; a commit writes new metadata and atomically swaps a pointer
file (os.replace), giving readers snapshot isolation: a reader that
pinned snapshot N sees the identical row set regardless of concurrent
maintenance (BASELINE.json north_star correctness criterion).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql.types import StructType

# ---------------------------------------------------------------------------
# JSON-safe encoding for stats values (min/max can be dates/timestamps/decimals)

_TS_TAG = "ts:"
_DATE_TAG = "date:"
_DEC_TAG = "dec:"
_BYTES_TAG = "b64:"


def encode_value(v: Any) -> Any:
    if isinstance(v, _dt.datetime):
        return _TS_TAG + v.isoformat()
    if isinstance(v, _dt.date):
        return _DATE_TAG + v.isoformat()
    if isinstance(v, _dec.Decimal):
        return _DEC_TAG + str(v)
    if isinstance(v, (bytes, bytearray)):
        import base64

        return _BYTES_TAG + base64.b64encode(bytes(v)).decode("ascii")
    return v


def decode_value(v: Any) -> Any:
    if isinstance(v, str):
        if v.startswith(_TS_TAG):
            return _dt.datetime.fromisoformat(v[len(_TS_TAG) :])
        if v.startswith(_DATE_TAG):
            return _dt.date.fromisoformat(v[len(_DATE_TAG) :])
        if v.startswith(_DEC_TAG):
            return _dec.Decimal(v[len(_DEC_TAG) :])
        if v.startswith(_BYTES_TAG):
            import base64

            return base64.b64decode(v[len(_BYTES_TAG) :])
    return v


# ---------------------------------------------------------------------------


@dataclass
class ColumnStats:
    min: Any = None
    max: Any = None
    null_count: int | None = None

    def to_json(self) -> dict:
        return {
            "min": encode_value(self.min),
            "max": encode_value(self.max),
            "null_count": self.null_count,
        }

    @staticmethod
    def from_json(d: dict) -> "ColumnStats":
        return ColumnStats(
            min=decode_value(d.get("min")),
            max=decode_value(d.get("max")),
            null_count=d.get("null_count"),
        )


@dataclass
class DataFile:
    """One immutable Parquet data file tracked by a manifest.

    ``blooms`` holds optional per-column key bloom filters (raw JSON
    dicts, see format/bloom.py) for merge-key pruning when min/max
    ranges are useless (uniform keys after clustering on another key).
    ``cluster`` marks files laid out by a clustering job ({"curve":...,
    "columns": [...]}) so incremental clustering can skip them.

    Merge-on-read (Iceberg-v2-style equality deletes): ``content`` is
    "data" or "deletes"; a deletes file holds rows of ``delete_keys``
    columns and applies to every data file whose ``seq`` (the snapshot
    id of the commit that added it) is STRICTLY LOWER than the delete
    file's — data appended in the same or a later commit is unaffected."""

    path: str  # relative to table root
    rows: int
    bytes: int
    partition: dict[str, Any] = field(default_factory=dict)
    stats: dict[str, ColumnStats] = field(default_factory=dict)
    blooms: dict[str, dict] = field(default_factory=dict)
    cluster: dict | None = None
    schema_version: int | None = None  # schema the file was written with
    content: str = "data"  # data | deletes
    seq: int | None = None  # snapshot id of the adding commit (None→0)
    delete_keys: list[str] | None = None  # equality-delete key columns

    def to_json(self) -> dict:
        out = {
            "path": self.path,
            "rows": self.rows,
            "bytes": self.bytes,
            "partition": {k: encode_value(v) for k, v in self.partition.items()},
            "stats": {c: s.to_json() for c, s in self.stats.items()},
        }
        if self.blooms:
            out["blooms"] = self.blooms
        if self.cluster:
            out["cluster"] = self.cluster
        if self.schema_version is not None:
            out["schema_version"] = self.schema_version
        if self.content != "data":
            out["content"] = self.content
        if self.seq is not None:
            out["seq"] = self.seq
        if self.delete_keys is not None:
            out["delete_keys"] = self.delete_keys
        return out

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(
            path=d["path"],
            rows=d["rows"],
            bytes=d["bytes"],
            partition={k: decode_value(v) for k, v in d.get("partition", {}).items()},
            stats={c: ColumnStats.from_json(s) for c, s in d.get("stats", {}).items()},
            blooms=dict(d.get("blooms", {})),
            cluster=d.get("cluster"),
            schema_version=d.get("schema_version"),
            content=d.get("content", "data"),
            seq=d.get("seq"),
            delete_keys=d.get("delete_keys"),
        )


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # append | overwrite | replace | delete | expire
    manifest_list: list  # manifest-list entries (dicts; legacy: path strings)
    summary: dict[str, Any] = field(default_factory=dict)
    commit_key: str | None = None  # idempotency key — duplicate commits no-op
    schema_version: int | None = None  # schema in force when committed

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "manifest_list": self.manifest_list,
            "summary": self.summary,
            "commit_key": self.commit_key,
            "schema_version": self.schema_version,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            manifest_list=list(d["manifest_list"]),
            summary=d.get("summary", {}),
            commit_key=d.get("commit_key"),
            schema_version=d.get("schema_version"),
        )


@dataclass
class TableMetadata:
    table_uuid: str
    schema_json: dict  # StructType.jsonValue() — CURRENT schema version
    partition_spec: list[str]
    properties: dict[str, str]
    current_snapshot_id: int | None
    snapshots: list[Snapshot]
    sort_order: list[str] = field(default_factory=list)
    format_version: int = 1
    last_sequence: int = 0  # monotonically increasing snapshot id source
    # schema evolution: every schema version ever in force, in order.
    # Fields carry stable ids in their metadata ({"field_id": n}) so
    # renames/widenings map by id across versions (Iceberg-style).
    schema_history: list[dict] = field(default_factory=list)
    last_field_id: int = 0
    # named refs: tag name -> snapshot id (Iceberg tags). A tagged
    # snapshot is never expired while the tag exists.
    refs: dict[str, int] = field(default_factory=dict)

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self.schema_json)

    @property
    def current_schema_version(self) -> int:
        return max(0, len(self.schema_history) - 1)

    def schema_at(self, version: int | None) -> StructType:
        if version is None or not self.schema_history:
            return self.schema
        return StructType.fromJson(self.schema_history[version])

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found")

    def current_snapshot(self) -> Snapshot | None:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def find_commit(self, commit_key: str) -> Snapshot | None:
        for s in self.snapshots:
            if s.commit_key is not None and s.commit_key == commit_key:
                return s
        return None

    def to_json(self) -> dict:
        return {
            "format_version": self.format_version,
            "table_uuid": self.table_uuid,
            "schema": self.schema_json,
            "partition_spec": self.partition_spec,
            "sort_order": self.sort_order,
            "properties": self.properties,
            "current_snapshot_id": self.current_snapshot_id,
            "last_sequence": self.last_sequence,
            "snapshots": [s.to_json() for s in self.snapshots],
            "schema_history": self.schema_history,
            "last_field_id": self.last_field_id,
            "refs": self.refs,
        }

    @staticmethod
    def from_json(d: dict) -> "TableMetadata":
        return TableMetadata(
            table_uuid=d["table_uuid"],
            schema_json=d["schema"],
            partition_spec=list(d.get("partition_spec", [])),
            properties=dict(d.get("properties", {})),
            current_snapshot_id=d.get("current_snapshot_id"),
            snapshots=[Snapshot.from_json(s) for s in d.get("snapshots", [])],
            sort_order=list(d.get("sort_order", [])),
            format_version=d.get("format_version", 1),
            last_sequence=d.get("last_sequence", 0),
            schema_history=list(d.get("schema_history", [d["schema"]])),
            last_field_id=d.get("last_field_id", 0),
            refs={k: int(v) for k, v in d.get("refs", {}).items()},
        )


@dataclass(frozen=True)
class ClusterLayout:
    """The clustering ``cluster_rewrite`` recorded in the table's
    ``cluster.*`` properties. After a full rewrite it also holds that
    rewrite's boundary record: the normalization ``bounds`` the curve
    keys were computed with, the range ``boundaries`` the files were cut
    at, and the table ``rows`` at record time."""

    curve: str
    columns: tuple[str, ...]
    target_file_bytes: int | None
    bounds: dict | None = None
    boundaries: list[int] | None = None
    rows: int = 0


def cluster_layout(properties: dict) -> ClusterLayout | None:
    """The one reader of the ``cluster.*`` properties: None for a table
    never clustered. A boundary record with a part missing or not
    parseable, or whose bounds lack a layout column, is left out."""
    columns = tuple(c.strip() for c in properties.get("cluster.columns", "").split(",")
                    if c.strip())
    if not columns:
        return None
    target = properties.get("cluster.target-file-bytes")
    layout = ClusterLayout(properties.get("cluster.curve", "zorder"), columns,
                           int(target) if target else None)
    raw_bounds, raw = properties.get("cluster.bounds"), properties.get("cluster.boundaries")
    if not raw_bounds or not raw:
        return layout
    try:
        bounds = {c: tuple(v) for c, v in json.loads(raw_bounds).items()}
        boundaries = [int(x) for x in raw.split(",") if x]
        rows = int(properties.get("cluster.boundaries-rows", "0"))
    except (ValueError, AttributeError, TypeError):
        return layout
    if any(c not in bounds for c in columns):
        return layout
    return ClusterLayout(layout.curve, columns, layout.target_file_bytes,
                         bounds, boundaries, rows)


# ---------------------------------------------------------------------------
# Filesystem helpers — atomic single-writer commit protocol


POINTER = "metadata/current"


def write_json_atomic(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f, separators=(",", ":"))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def write_json_exclusive(path: str, payload: dict) -> bool:
    """Atomically create ``path`` with ``payload`` IFF it does not exist.

    This is the optimistic-commit CAS primitive: the v<N+1>.metadata.json
    slot is claimed by exactly one writer (os.link of a fully-written,
    fsynced temp file is atomic and fails with EEXIST for losers — the
    file is never observable half-written). Returns False when another
    writer holds the slot."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f, separators=(",", ":"))
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def manifest_path(entry) -> str:
    """Manifest-list entries are dicts with summary bounds (current
    format) or plain path strings (legacy) — both stay readable."""
    return entry if isinstance(entry, str) else entry["path"]


def manifest_bounds(entry) -> dict | None:
    """{col: (min, max)} aggregated over the manifest's files, or None
    for legacy entries / columns without stats. Values are decoded."""
    if isinstance(entry, str):
        return None
    b = entry.get("bounds")
    if b is None:
        return None
    return {c: (decode_value(v[0]), decode_value(v[1])) for c, v in b.items()}


def write_manifest(root: str, files: list[DataFile]) -> dict:
    """Write one manifest file; returns its manifest-LIST entry:
    {path, files, rows, bytes, bounds}.

    The bounds aggregate each column's min/max over the manifest's
    files (partition values count as point ranges), so the scan planner
    can skip a whole manifest without opening it — the role Iceberg's
    manifest-list partition summaries play. At ~800k files / 100 TB the
    driver then reads only the few manifests a selective scan touches.
    """
    rel = f"metadata/manifests/m-{uuid.uuid4().hex}.json"
    write_json_atomic(
        os.path.join(root, rel),
        {"entries": [f.to_json() for f in files]},
    )
    # col → [min, max, n_files_covered]; a bound is only usable if EVERY
    # file in the manifest contributed one (else skipping would be wrong)
    acc: dict[str, list] = {}
    conflicted: set[str] = set()

    def fold(col: str, mn, mx) -> None:
        if col in conflicted:
            return
        if mn is None or mx is None:
            conflicted.add(col)
            acc.pop(col, None)
            return
        cur = acc.get(col)
        if cur is None:
            acc[col] = [mn, mx, 1]
        else:
            try:
                if mn < cur[0]:
                    cur[0] = mn
                if mx > cur[1]:
                    cur[1] = mx
            except TypeError:
                conflicted.add(col)
                acc.pop(col, None)
                return
            cur[2] += 1

    for f in files:
        seen = set()
        for c, v in f.partition.items():
            fold(c, v, v)
            seen.add(c)
        for c, st in f.stats.items():
            if c not in seen:
                fold(c, st.min, st.max)
    bounds = {c: v[:2] for c, v in acc.items() if v[2] == len(files)}
    out = {
        "path": rel,
        "files": len(files),
        "rows": sum(f.rows for f in files),
        "bytes": sum(f.bytes for f in files),
        "bounds": {c: [encode_value(v[0]), encode_value(v[1])]
                   for c, v in bounds.items()},
    }
    n_del = sum(1 for f in files if f.content == "deletes")
    if n_del:
        # manifests holding delete files are never skipped by bounds —
        # equality deletes apply regardless of scan filters
        out["delete_files"] = n_del
    return out


def read_manifest(root: str, entry) -> list[DataFile]:
    d = read_json(os.path.join(root, manifest_path(entry)))
    return [DataFile.from_json(e) for e in d["entries"]]

