"""Tracing from outside the engine, for the ``--trace 1`` run.

Two sources:

* :class:`Tracer` wraps the engine's public functions and methods at
  every module binding (``format.table`` binds ``collect_entries`` via
  ``from ... import``, so patching ``format.stats`` alone would miss its
  calls) and records wall time, self time and counts per span name.
  Functions returning lazy DataFrames (dedup, checks) are timed for their driver-side
  plan construction; their execution shows under ``spark.*`` and in the
  enclosing operation.
* :func:`spark_metrics` reads the Spark event log and sums job, stage and
  task metrics per benchmark operation.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "medalforge_lakehouse_data_spark"
# merges with at most this many source rows count as trickle merges
TRICKLE_MAX_ROWS = 32


class Tracer:
    def __init__(self):
        self.dur = defaultdict(float)
        self.self_dur = defaultdict(float)
        self.calls = defaultdict(int)
        self.count = defaultdict(float)
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def add(self, key: str, v: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.count[key] += v

    def _wrapper(self, fn, name, after):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            frame = [0.0]
            stack.append(frame)
            t0 = time.perf_counter()
            try:
                res = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                stack.pop()
                if stack:
                    stack[-1][0] += dt
                if tracer.enabled:
                    with tracer._lock:
                        tracer.dur[name] += dt
                        tracer.self_dur[name] += dt - frame[0]
                        tracer.calls[name] += 1
            if after is not None and tracer.enabled:
                after(tracer, res, args, kwargs)
            return res

        return traced

    def wrap_function(self, fn, name: str, after=None) -> None:
        """Replace ``fn`` at every binding in the engine's loaded modules."""
        w = self._wrapper(fn, name, after)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, w)
                    self._undo.append((mod, attr, fn))

    def wrap_method(self, cls, attr: str, name: str, after=None) -> None:
        fn = cls.__dict__[attr]
        setattr(cls, attr, self._wrapper(fn, name, after))
        self._undo.append((cls, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()


def _kw(args, kwargs, pos: int, key: str, default=None):
    if key in kwargs:
        return kwargs[key]
    return args[pos] if len(args) > pos else default


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the per-layer metrics name."""
    from medalforge_lakehouse_data_spark.format import metadata, stats
    from medalforge_lakehouse_data_spark.format.table import Table
    from medalforge_lakehouse_data_spark.maintenance import (
        clustering,
        compaction,
        expire,
        manifests,
        transcode,
    )
    from medalforge_lakehouse_data_spark.operators import checks, dedup, merge
    from medalforge_lakehouse_data_spark.pipeline import silver

    def on_write(t, res, a, kw):
        t.add("format.write.files", len(res))
        t.add("format.write.bytes", sum(e.bytes for e in res))

    def on_stats(t, res, a, kw):
        t.add("format.stats.files", len(res))

    def on_exclusive(t, res, a, kw):
        if res is False:
            t.add("format.commit.retries")

    def on_read_json(t, res, a, kw):
        path = _kw(a, kw, 0, "path")
        if str(path).endswith(".metadata.json"):
            t.add("format.metadata.json_kb", os.path.getsize(path) / 1024)
            t.add("format.metadata.json_reads")

    def on_plan(t, res, a, kw):
        m = res[1]
        t.add("format.plan.manifests_opened", m.get("manifests_opened", 0))
        t.add("format.plan.manifests_total", m.get("manifests_total", 0))
        t.add("format.plan.files_kept", m.get("files_kept", 0))
        t.add("format.plan.files_total", m.get("files_total", 0))

    def on_read(t, res, a, kw):
        dels = _kw(a, kw, 5, "deletes") or []
        t.add("format.read.delete_seqs", len({d.seq for d in dels}))

    def on_compact(t, res, a, kw):
        for k in ("files_in", "files_out", "bytes_in"):
            t.add(f"maintenance.compaction.{k}", res.get(k, 0))

    def on_cluster(t, res, a, kw):
        t.add("maintenance.clustering.files_out", res.get("files_out", 0))

    def on_transcode(t, res, a, kw):
        t.add("maintenance.transcode.rows", res.get("rows", 0))

    def on_expire(t, res, a, kw):
        t.add("maintenance.expire.files_deleted", res.get("deleted_data_files", 0))

    def on_fold(t, res, a, kw):
        t.add("maintenance.compact_deletes.files_in", res.get("files_in", 0))

    def on_merge(t, res, a, kw):
        if "source_rows" not in res:
            return
        if res["source_rows"] <= TRICKLE_MAX_ROWS:
            kind = "trickle"
        elif _kw(a, kw, 11, "strategy", "copy-on-write") == "merge-on-read":
            kind = "mor"
        else:
            kind = "cow"
        t.add(f"operators.merge.{kind}_s", res.get("seconds", 0.0))
        t.add("operators.merge.affected_files", res.get("affected_files", 0))
        t.add("operators.merge.files_total", res.get("files_total", 0))
        if res.get("bucket_prune") == "collected":
            t.add("operators.merge.bucket_prune")
        if res.get("rekey_boundaries") in ("recorded", "manifest"):
            t.add("operators.merge.rekey_boundaries")

    def on_silver(t, res, a, kw):
        t.add("pipeline.silver.rows.quarantined", res.quarantined_rows)
        t.add("pipeline.silver.rows.remediated", res.remediated_rows)
        t.add("pipeline.silver.rows.rejected", res.rejected_rows)
        t.add("pipeline.silver.rows.merged", res.merged_rows)

    tracer.wrap_method(Table, "_write_data_files", "format.write", on_write)
    tracer.wrap_method(Table, "_commit_metadata", "format.commit")
    tracer.wrap_method(Table, "metadata", "format.metadata")
    tracer.wrap_method(Table, "plan_files", "format.plan", on_plan)
    tracer.wrap_method(Table, "_read_aligned", "format.read", on_read)
    tracer.wrap_function(stats.collect_entries, "format.stats.collect", on_stats)
    tracer.wrap_function(metadata.write_json_exclusive, "format.commit.claim", on_exclusive)
    tracer.wrap_function(metadata.read_json, "format.read_json", on_read_json)
    tracer.wrap_function(metadata.read_manifest, "format.manifest.read")
    tracer.wrap_function(compaction.compact, "maintenance.compaction", on_compact)
    tracer.wrap_function(compaction.compact_deletes, "maintenance.compact_deletes", on_fold)
    tracer.wrap_function(clustering.cluster_rewrite, "maintenance.clustering", on_cluster)
    tracer.wrap_function(clustering.curve_boundaries, "maintenance.clustering.boundaries")
    tracer.wrap_function(transcode.transcode_rewrite, "maintenance.transcode", on_transcode)
    tracer.wrap_function(manifests.rewrite_manifests, "maintenance.manifests")
    tracer.wrap_function(expire.expire_snapshots, "maintenance.expire", on_expire)
    tracer.wrap_function(merge.merge_into, "operators.merge", on_merge)
    tracer.wrap_function(dedup.minhash_near_dup_pairs, "operators.dedup.minhash")
    tracer.wrap_function(dedup.shingle_jaccard_verify, "operators.dedup.verify")
    tracer.wrap_function(dedup.ngram_jaccard_pairs, "operators.dedup.ngram")
    tracer.wrap_function(checks.apply_checks_and_split_cached, "operators.checks.split")
    tracer.wrap_function(silver.run_pipeline, "pipeline.silver", on_silver)


def layer_metrics(t: Tracer, n_ops: int) -> dict[str, float]:
    """Per-layer numbers, as means per measured operation (ratios pooled)."""
    n = max(1, n_ops)
    c = t.count

    def ratio(a, b):
        return c[a] / c[b] if c[b] else 0.0

    m = {
        "format.write.self_s": t.self_dur["format.write"] / n,
        "format.write.files": c["format.write.files"] / n,
        "format.write.bytes": c["format.write.bytes"] / n,
        "format.stats.collect_s": t.dur["format.stats.collect"] / n,
        "format.stats.files": c["format.stats.files"] / n,
        "format.commit.s": t.dur["format.commit"] / n,
        "format.commit.count": t.calls["format.commit"] / n,
        "format.commit.retries": c["format.commit.retries"] / n,
        "format.metadata.loads": t.calls["format.metadata"] / n,
        "format.metadata.load_s": t.dur["format.metadata"] / n,
        "format.metadata.json_kb": ratio("format.metadata.json_kb",
                                         "format.metadata.json_reads"),
        "format.manifest.reads": t.calls["format.manifest.read"] / n,
        "format.manifest.read_s": t.dur["format.manifest.read"] / n,
        "format.plan.s": t.dur["format.plan"] / n,
        "format.plan.manifests_opened_ratio": ratio("format.plan.manifests_opened",
                                                    "format.plan.manifests_total"),
        "format.plan.files_kept_ratio": ratio("format.plan.files_kept",
                                              "format.plan.files_total"),
        "format.read.delete_seqs": c["format.read.delete_seqs"] / n,
        "maintenance.compaction.s": t.dur["maintenance.compaction"] / n,
        "maintenance.compaction.files_in": c["maintenance.compaction.files_in"] / n,
        "maintenance.compaction.files_out": c["maintenance.compaction.files_out"] / n,
        "maintenance.compaction.bytes_in": c["maintenance.compaction.bytes_in"] / n,
        "maintenance.clustering.s": t.dur["maintenance.clustering"] / n,
        "maintenance.clustering.boundaries_s": t.dur["maintenance.clustering.boundaries"] / n,
        "maintenance.clustering.files_out": c["maintenance.clustering.files_out"] / n,
        "maintenance.transcode.s": t.dur["maintenance.transcode"] / n,
        "maintenance.transcode.rows": c["maintenance.transcode.rows"] / n,
        "maintenance.manifests.s": t.dur["maintenance.manifests"] / n,
        "maintenance.expire.s": t.dur["maintenance.expire"] / n,
        "maintenance.expire.files_deleted": c["maintenance.expire.files_deleted"] / n,
        "maintenance.compact_deletes.s": t.dur["maintenance.compact_deletes"] / n,
        "maintenance.compact_deletes.files_in":
            c["maintenance.compact_deletes.files_in"] / n,
        "operators.merge.cow_s": c["operators.merge.cow_s"] / n,
        "operators.merge.mor_s": c["operators.merge.mor_s"] / n,
        "operators.merge.trickle_s": c["operators.merge.trickle_s"] / n,
        "operators.merge.affected_files_ratio": ratio("operators.merge.affected_files",
                                                      "operators.merge.files_total"),
        "operators.merge.bucket_prune": c["operators.merge.bucket_prune"] / n,
        "operators.merge.rekey_boundaries": c["operators.merge.rekey_boundaries"] / n,
        "operators.dedup.minhash_s": t.dur["operators.dedup.minhash"] / n,
        "operators.dedup.verify_s": t.dur["operators.dedup.verify"] / n,
        "operators.dedup.ngram_s": t.dur["operators.dedup.ngram"] / n,
        "operators.checks.split_s": t.dur["operators.checks.split"] / n,
        "pipeline.silver.s": t.dur["pipeline.silver"] / n,
    }
    for k in ("quarantined", "remediated", "rejected", "merged"):
        m[f"pipeline.silver.rows.{k}"] = c[f"pipeline.silver.rows.{k}"] / n
    return m


# -- Spark event log ---------------------------------------------------------

PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
            "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
SPARK_KEYS = ("jobs", "stages", "tasks", "job_wall_s", "executor_run_s",
              "executor_cpu_s", "gc_s", "input_bytes", "output_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "python_udf_rows")


def _py_row_accums(plan: dict, out: set) -> None:
    if any(plan.get("nodeName", "").startswith(n) for n in PY_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for ch in plan.get("children", []):
        _py_row_accums(ch, out)


def spark_metrics(log_dir: str, ops: list[dict]) -> tuple[dict[int, dict], dict[int, float]]:
    """Sum Spark metrics per operation index.

    A job belongs to the operation whose wall-clock window contains its
    submission time (operations run one at a time, and jobs submitted
    from an engine-owned thread pool may not carry the caller's job
    group); otherwise to the operation whose job group it carries.
    Returns ({op index: metric sums}, {op index: union of job wall time}).
    """
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    windows = [(o["t0_ms"], o["t1_ms"], i) for i, o in enumerate(ops)]
    group_to_op = {o["group"]: i for i, o in enumerate(ops)}
    job_op: dict[int, int] = {}
    job_span: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    py_accums: set = set()
    per_op: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_KEYS, 0.0))

    def op_of(props, t_ms):
        for t0, t1, i in windows:
            if t0 <= t_ms <= t1:
                return i
        return group_to_op.get((props or {}).get("spark.jobGroup.id"))

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    i = op_of(ev.get("Properties"), ev["Submission Time"])
                    if i is None:
                        continue
                    jid = ev["Job ID"]
                    job_op[jid] = i
                    job_span[jid] = [ev["Submission Time"], None]
                    per_op[i]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_span:
                        job_span[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in job_op:
                        per_op[job_op[jid]]["stages"] += 1
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    _py_row_accums(ev.get("sparkPlanInfo", {}), py_accums)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid not in job_op:
                        continue
                    acc = per_op[job_op[jid]]
                    acc["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    acc["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    acc["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    acc["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("ID") in py_accums:
                            acc["python_udf_rows"] += float(a.get("Update") or 0)
    busy: dict[int, list] = defaultdict(list)
    for jid, (s, e) in job_span.items():
        if e is not None:
            busy[job_op[jid]].append((s, e))
    job_wall: dict[int, float] = {}
    for i, spans in busy.items():
        spans.sort()
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        job_wall[i] = total / 1e3
        per_op[i]["job_wall_s"] = job_wall[i]
    return dict(per_op), job_wall
