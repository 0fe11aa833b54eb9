"""Table-maintenance benchmark: one workload per run, closed loop.

    python3 perfbench/run.py --workload {maintain,upsert_scan,curate} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One client runs the workload's operations
back to back (each starts after the previous one returns) on a
``local[nproc]`` Spark session. Set-up materialises the seeded inputs,
builds the tables and runs every operation kind once as a warm-up.
Then whole rounds run until ``--seconds`` have passed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it is a report with
per-operation latencies, the workload's own named metrics, correctness
checks, host probes and the pinned configuration.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {"setup_s": "s", "round_s": "s"}

# operation kinds of every workload, for the per-kind floor metrics
OP_KINDS = ("append", "cluster", "transcode", "manifests", "expire",
            "merge_cow", "merge_mor", "merge_trickle", "range_scan",
            "point_lookup", "full_scan", "compact_deletes",
            "silver", "minhash", "ngram")


def cpu_probe_s() -> float:
    """Best of three runs of a fixed pure-Python loop."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def disk_mb_per_s(work: str, mb: int = 32) -> float:
    """Sequential write bandwidth of the scratch directory, fsync included."""
    path = os.path.join(work, "disk_probe.bin")
    block = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(mb):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.unlink(path)
    return mb / dt


def host_probe(work: str) -> dict:
    return {"cpu_probe_s": cpu_probe_s(), "disk_mb_per_s": disk_mb_per_s(work)}


def percentile(xs: list[float], p: float) -> float:
    s = sorted(xs)
    k = (len(s) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float]) -> dict | None:
    """Highest of p90/p99/p99.9 with at least ten samples beyond it."""
    best = None
    for p in (90, 99, 99.9):
        if len(xs) * (1 - p / 100) >= 10:
            best = {"p": p, "s": percentile(xs, p), "n": len(xs)}
    return best


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def driver_memory() -> str:
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{int(min(4, max(1, ram_gb // 4)))}g"


def start_spark(work: str, nproc: int, trace: bool):
    from medalforge_lakehouse_data_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    shuffle = max(nproc, 8)
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=shuffle, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    config = {"master": f"local[{nproc}]", "shuffle_partitions": shuffle,
              "driver_memory": conf["spark.driver.memory"],
              "spark_version": spark.version}
    return spark, config


def stop_spark(spark) -> None:
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Closed-loop driver: times each operation, verifies it untimed."""

    def __init__(self, spark, wl, tracer):
        self.spark = spark
        self.wl = wl
        self.tracer = tracer
        self.ops: list[dict] = []
        self.failed = 0
        self.errors: list[str] = []

    def run_op(self, kind: str, fn, measured: bool) -> bool:
        sc = self.spark.sparkContext
        group = f"op-{len(self.ops)}"
        sc.setJobGroup(group, kind)
        w0 = self.wl.written_bytes()
        t0_ms = time.time() * 1000
        self.tracer.enabled = measured
        t0 = time.perf_counter()
        try:
            op = fn()
        except Exception:
            self.errors.append(traceback.format_exc())
            op = None
        dt = time.perf_counter() - t0
        self.tracer.enabled = False
        t1_ms = time.time() * 1000
        sc.setJobGroup("verify", "verify")
        written = self.wl.written_bytes() - w0 if op else 0
        ok = False
        if op is not None:
            try:
                ok = bool(self.wl.verify(kind, op))
            except Exception:
                self.errors.append(traceback.format_exc())
        self.ops.append({"kind": kind, "s": dt, "t0_ms": t0_ms, "t1_ms": t1_ms,
                         "group": group, "measured": measured, "ok": ok,
                         "rows": op.rows if op else 0, "in_bytes": op.in_bytes if op else 0,
                         "written": written,
                         "op": op})
        if measured and not ok:
            self.failed += 1
        if not ok:
            print(f"operation {kind} failed", file=sys.stderr)
        return op is not None

    def run_ops(self, ops, measured: bool) -> bool:
        for kind, fn in ops:
            if not self.run_op(kind, fn, measured):
                return False
        return True

    def measured(self) -> list[dict]:
        return [o for o in self.ops if o["measured"]]


def by_kind(ops: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for o in ops:
        out.setdefault(o["kind"], []).append(o)
    return out


def p50(ops: list[dict]) -> float:
    return statistics.median(o["s"] for o in ops) if ops else 0.0


def rate(num: float, den: float) -> float:
    return num / den if den > 0 else 0.0


def named_metrics(workload: str, ops: list[dict]) -> dict:
    """The workload's own end-to-end figures, printed in the report."""
    k = by_kind(ops)
    out: dict[str, tuple[float, str]] = {}
    if workload == "maintain":
        app = k.get("append", [])
        out["ingest_mb_per_s"] = (rate(sum(o["in_bytes"] for o in app) / 1e6,
                                       sum(o["s"] for o in app)), "MB/s")
        out["append_s_p50"] = (p50(app), "s")
        rw_bytes = rw_s = 0.0
        for o in app:
            c = o["op"].result.get("compact") if o["op"] else None
            if c:
                rw_s += c.get("seconds", 0.0)
                rw_bytes += o["op"].extra.get("compact_bytes", 0)
        for o in k.get("cluster", []):
            rw_bytes += o["op"].result.get("bytes_in", 0)
            rw_s += o["s"]
        out["rewrite_gb_per_min"] = (rate(rw_bytes / 1e9, rw_s / 60), "GB/min")
        tc = k.get("transcode", [])
        out["transcode_rows_per_s"] = (rate(sum(o["rows"] for o in tc),
                                            sum(o["s"] for o in tc)), "rows/s")
    elif workload == "upsert_scan":
        bulk = k.get("merge_cow", []) + k.get("merge_mor", [])
        out["merge_rows_per_s"] = (rate(sum(o["rows"] for o in bulk),
                                        sum(o["s"] for o in bulk)), "rows/s")
        out["trickle_merge_s_p50"] = (p50(k.get("merge_trickle", [])), "s")
        out["range_scan_s_p50"] = (p50(k.get("range_scan", [])), "s")
        out["point_lookup_s_p50"] = (p50(k.get("point_lookup", [])), "s")
        scans = k.get("range_scan", []) + k.get("point_lookup", [])
        planned = sum(o["op"].extra["scan"].get("bytes_kept", 0) for o in scans if o["op"])
        out["scan_bytes_per_row"] = (rate(planned, sum(o["rows"] for o in scans)), "B/row")
        full = k.get("full_scan", [])
        split = [o for o in full if o["op"] and not o["op"].extra["seqjoin"]]
        seqjoin = [o for o in full if o["op"] and o["op"].extra["seqjoin"]]
        out["full_scan_split_s_p50"] = (p50(split), "s")
        out["full_scan_seqjoin_s_p50"] = (p50(seqjoin), "s")
    elif workload == "curate":
        sv = k.get("silver", [])
        out["silver_rows_per_s"] = (rate(sum(o["rows"] for o in sv),
                                         sum(o["s"] for o in sv)), "rows/s")
        out["minhash_dedup_s_p50"] = (p50(k.get("minhash", [])), "s")
        out["ngram_dedup_s_p50"] = (p50(k.get("ngram", [])), "s")
    return {name: {"value": v, "unit": u} for name, (v, u) in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import medalforge_lakehouse_data_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        host_start = host_probe(work)
        tracer = tr.Tracer()
        spark, config = start_spark(work, nproc, bool(args.trace))
        if args.trace:
            tr.install(tracer)
        wl = WORKLOADS[args.workload](spark, work, args.seed, nproc)
        runner = Runner(spark, wl, tracer)
        t_inputs = time.perf_counter()
        wl.setup()
        t_warm = time.perf_counter()
        ok = runner.run_ops(wl.warmup(), measured=False)
        setup_s = time.perf_counter() - t_start
        phases = {"session_s": t_inputs - t_start, "inputs_s": t_warm - t_inputs,
                  "warmup_s": setup_s - (t_warm - t_start)}

        t_loop = time.perf_counter()
        round_totals: list[float] = []
        while ok:
            first = len(runner.ops)
            ok = runner.run_ops(wl.round(), measured=True)
            round_totals.append(sum(o["s"] for o in runner.ops[first:]))
            if (time.perf_counter() - t_loop >= args.seconds
                    and len(round_totals) >= wl.MIN_ROUNDS):
                break
        rounds = len(round_totals)
        loop_s = time.perf_counter() - t_loop
        checks = wl.check_once() if ok else {"completed": False}
        failed = runner.failed + sum(1 for v in checks.values() if not v)
        host_end = host_probe(work)
        rss = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        tracer.uninstall()
        stop_spark(spark)
        spark = None

        ops = runner.measured()
        attempted = len(ops) + len(checks)
        kinds = by_kind(ops)
        total_s = sum(o["s"] for o in ops)
        round_s = statistics.median(round_totals) if round_totals else 0.0
        e2e = {"setup_s": setup_s, "round_s": round_s}
        named = named_metrics(args.workload, ops)
        named["setup_s"] = {"value": setup_s, "unit": "s"}
        named["ops_failed_ratio"] = {"value": rate(failed, attempted), "unit": "ratio"}
        named["peak_rss_mb"] = {"value": rss, "unit": "MB"}
        named["write_amp"] = {"value": rate(sum(o["written"] for o in ops),
                                            sum(o["in_bytes"] for o in ops)),
                              "unit": "ratio"}
        named["rows_per_s"] = {"value": rate(sum(o["rows"] for o in ops), total_s),
                               "unit": "rows/s"}
        named["op_s_p50_geomean"] = {
            "value": math.exp(statistics.fmean(math.log(max(p50(v), 1e-9))
                                               for v in kinds.values())) if kinds else 0.0,
            "unit": "s"}
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "rounds": rounds, "loop_s": loop_s, "commit": git_commit(),
            "config": config, "inputs": wl.sizes, "setup_phases": phases,
            "setup_steps": wl.setup_steps,
            "ops": {k: {"n": len(v), "p50_s": p50(v), "tail": tail([o["s"] for o in v])}
                    for k, v in kinds.items()},
            "samples": [[o["kind"], o["s"]] for o in ops],
            "named": named, "checks": checks,
            "host": {"start": host_start, "end": host_end},
        }
        if args.trace:
            metrics = per_layer(tracer, ops, runner.ops, work, report["host"], round_s)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        for err in runner.errors:
            print(err, file=sys.stderr)
        print(json.dumps(report))
        print(json.dumps({"correct": failed == 0 and not runner.errors,
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def per_layer(tracer, ops, all_ops, work, host, round_s) -> dict:
    from perfbench import trace as tr

    n = len(ops)
    m = tr.layer_metrics(tracer, n)
    index = {id(o): i for i, o in enumerate(all_ops)}
    spark_by_op, job_wall = tr.spark_metrics(os.path.join(work, "eventlog"), all_ops)
    mine = [index[id(o)] for o in ops]
    for key in tr.SPARK_KEYS:
        m[f"spark.{key}"] = sum(spark_by_op.get(i, {}).get(key, 0.0) for i in mine) / max(1, n)
    m["driver.self_s"] = sum(o["s"] - job_wall.get(index[id(o)], 0.0) for o in ops) / max(1, n)
    bw = host["start"]["disk_mb_per_s"] * 1e6
    for kind in OP_KINDS:
        sel = [index[id(o)] for o in ops if o["kind"] == kind]
        moved = sum(spark_by_op.get(i, {}).get(k, 0.0) for i in sel
                    for k in ("input_bytes", "output_bytes", "shuffle_read_bytes",
                              "shuffle_write_bytes"))
        floor = moved / bw / len(sel) if sel else 0.0
        m[f"io_floor_s.{kind}"] = floor
        m[f"floor_ratio.{kind}"] = rate(sum(all_ops[i]["s"] for i in sel) / len(sel),
                                        floor) if sel else 0.0
    for k in ("cpu_probe_s", "disk_mb_per_s"):
        m[f"host.{k}"] = host["start"][k]
        m[f"host.{k}.end"] = host["end"][k]
    m["trace.round_s"] = round_s
    return {k: {"value": m[k], "unit": layer_unit(k)} for k in per_layer_names()}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order."""
    from perfbench import trace as tr

    names = list(tr.layer_metrics(tr.Tracer(), 1))
    names += [f"spark.{k}" for k in tr.SPARK_KEYS] + ["driver.self_s"]
    for kind in OP_KINDS:
        names += [f"io_floor_s.{kind}", f"floor_ratio.{kind}"]
    for k in ("cpu_probe_s", "disk_mb_per_s"):
        names += [f"host.{k}", f"host.{k}.end"]
    return names + ["trace.round_s"]


def layer_unit(name: str) -> str:
    parts = name.split(".")
    if any(p.endswith("mb_per_s") for p in parts):
        return "MB/s"
    if any(p == "s" or p.endswith("_s") for p in parts):
        return "s"
    if any(p.endswith("ratio") for p in parts):
        return "ratio"
    if "bytes" in parts[-1]:
        return "B"
    if name.endswith("_kb"):
        return "KB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
