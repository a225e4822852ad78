"""Benchmark of the sync path and the query catalog.

    python3 perfbench/run.py --workload sync_snapshot --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (see README.md): ``sync_snapshot``,
``sync_incremental``, ``catalog_mix``. Every workload is a closed loop with
one client in one process; Spark runs ``local[N]`` with N = min(nproc,
$SPARK_GRAFT_CPUS). Inputs are generated from ``--seed``; everything the run
writes lives under ``.perfbench_work/`` and is removed at exit, except the
trace written to ``.perfbench_out/`` by ``--trace 1``.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a separate,
instrumented run that reports the per-layer metrics. Every op's output is
checked. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (name -> value and unit). The line
before it carries the run's context: contention stamps, sample counts and
the first few failures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not os.path.isfile(os.path.join(ROOT, "hdc_dataengineering_sqlsync_spark", "__init__.py")):
    # measure the checkout's program, never a copy installed elsewhere
    sys.exit(f"perfbench: no hdc_dataengineering_sqlsync_spark package under {ROOT}")
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from hdc_dataengineering_sqlsync_spark.session import get_session  # noqa: E402
from spans import Attribution, Tracer, attribute, covered, job_layer, read_event_log  # noqa: E402
from workloads import CATALOG_QIDS, WORKLOADS, OpResult  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
}

PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.scan_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "sources.files_written": "count",
    "digests.s": "s",
    "digests.rows": "count",
    "diff.s": "s",
    "diff.self_s": "s",
    "diff.shuffle_bytes": "bytes",
    "diff.rows_compared": "count",
    "diff.changed_ratio": "ratio",
    "merge.checkpoint_s": "s",
    "merge.apply_s": "s",
    "merge.shuffle_bytes": "bytes",
    "merge.broadcast_joins": "count",
    "schema_drift.s": "s",
    "state.get_s": "s",
    "state.put_s": "s",
    "sync_job.version_scan_s": "s",
    "sync_job.opcount_s": "s",
    "sync_job.validate_s": "s",
    "sync_job.spark_jobs": "count",
    "sync_job.self_s": "s",
    "sync_job.bytes_written_per_change": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
    **{f"plans.{q}.s": "s" for q in CATALOG_QIDS},
    **{f"plans.{q}.engine_s": "s" for q in CATALOG_QIDS},
}


# ------------------------------------------------------------- contention


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def _stat(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: state, ppid, ..."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)] = int(_stat(entry)[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its children (the JVM)."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when the
    gateway's stdin pipe closes), then for the processes it had started
    (Python workers), which can outlive it by a moment."""
    started = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (started := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in started:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


# ---------------------------------------------------------------- metrics


# A run measures 5-55 ops, too few for ten samples beyond p90; p75 has about
# ten beyond on catalog_mix, and p90 of a 6-op sync_snapshot run is nearly
# its maximum, which spread 0.15-0.21 across seeds.
TAIL_PCT = 75.0


def end_to_end(ops: list[OpResult], setup_s: float, balanced: bool) -> dict[str, float]:
    """With ``balanced`` (a mix of different queries), p50, throughput and
    row rate are taken over one median op per label, so that each query
    weighs the same however many passes the run fits."""
    durations = [o.seconds for o in ops]
    if balanced:
        groups: dict[str, list[OpResult]] = defaultdict(list)
        for o in ops:
            groups[o.label].append(o)
        typical = [statistics.median(o.seconds for o in g) for g in groups.values()]
        rows = sum(statistics.median(o.rows for o in g) for g in groups.values())
    else:
        typical, rows = durations, sum(o.rows for o in ops)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(typical),
        "op_tail_s": float(np.percentile(durations, TAIL_PCT)),
        "ops_per_s": len(typical) / sum(typical),
        "rows_per_s": rows / sum(typical),
    }


def _spark_totals(jobs: list[dict], put) -> None:
    put("spark.jobs", len(jobs))
    for key in ("tasks", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        put(f"spark.{key}", sum(j[key] for j in jobs))


def _broadcast_joins(jobs: list[dict]) -> int:
    plans = {j["sql"]: j["plan"] for j in jobs if j["sql"] is not None}
    return sum(p.count("BroadcastHashJoin") for p in plans.values())


def _catalog_op(o: OpResult, att: Attribution, put) -> None:
    top = att.spans[o.span_id]
    put(f"plans.{o.label}.s", o.seconds)
    put(f"plans.{o.label}.engine_s", o.attrs["engine_s"])
    put("sources.read_s", sum(s.seconds for s in att.subtree(top.id) if s.name == "sources.read"))
    _spark_totals(att.subtree_jobs(top.id), put)


def _sync_op(o: OpResult, att: Attribution, put, breakdown: dict[str, float]) -> None:
    kids = {c.name: c for c in att.children[o.span_id]}
    dec = {c.name: c for c in att.children[kids["decompose"].id]}
    st = kids["sync_table"]
    a = o.attrs
    # the benchmark's own calls into each layer, forced to a noop sink
    put("sources.scan_s", dec["sources.scan"].seconds)
    put("sources.scan_bytes", a["scan_bytes"])
    put("digests.s", dec["digests"].seconds)
    put("digests.rows", a["rows_compared"])
    put("diff.s", dec["diff"].seconds)
    put("diff.self_s", dec["diff"].seconds - dec["digests"].seconds)
    put("diff.shuffle_bytes", sum(j["shuffle_write_bytes"] for j in att.subtree_jobs(dec["diff"].id)))
    put("diff.rows_compared", a["rows_compared"])
    put("diff.changed_ratio", a["changed"] / a["rows_compared"])
    put("merge.checkpoint_s", dec["merge.checkpoint"].seconds)
    put("merge.apply_s", dec["merge.apply"].seconds)
    merge_jobs = att.subtree_jobs(dec["merge.apply"].id)
    put("merge.shuffle_bytes", sum(j["shuffle_write_bytes"] for j in merge_jobs))
    put("merge.broadcast_joins", _broadcast_joins(merge_jobs))
    # spans and jobs inside the sync_table call itself
    span_s: dict[str, float] = defaultdict(float)
    for s in att.subtree(st.id):
        span_s[s.name] += s.seconds
        breakdown[s.name] += att.self_s[s.id]
    for name in ("sources.read", "sources.write", "state.get", "state.put", "sync_job.version_scan"):
        put(f"{name}_s", span_s[name])
    put("schema_drift.s", span_s["schema_drift"])
    job_s: dict[str, float] = defaultdict(float)
    for s in [st, *att.subtree(st.id)]:
        by_layer: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for j in att.jobs_of.get(s.id, []):
            layer = job_layer(j["callsite"]) if s is st else f"{s.name} (spark jobs)"
            by_layer[layer].append((j["start"], j["end"]))
        for layer, intervals in by_layer.items():
            job_s[layer] += covered(intervals, s.start, s.end)
    for layer, secs in job_s.items():
        breakdown[layer] += secs
    breakdown["sync_table (self)"] += att.self_s[st.id]
    breakdown["sync_table (wall)"] += st.seconds
    put("sync_job.opcount_s", job_s["sync_job.opcount"])
    put("sync_job.validate_s", job_s["sync_job.validate"])
    all_jobs = att.subtree_jobs(st.id)
    put("sync_job.spark_jobs", len(all_jobs))
    put("sync_job.self_s", att.self_s[st.id])
    put("sources.write_bytes", a["write_bytes"])
    put("sources.files_written", a["files_written"])
    put("sync_job.bytes_written_per_change", a["write_bytes"] / a["changed"])
    _spark_totals(all_jobs, put)


def per_layer(ops: list[OpResult], tracer: Tracer, jobs: list[dict], session_s: float, rss_mb: float) -> tuple[dict[str, float], list[str]]:
    """Median per traced op of every PER_LAYER metric (0 where a layer is not
    on this workload's path), and a readable breakdown of sync_table."""
    att = attribute(tracer.spans, jobs)
    vals: dict[str, list[float]] = defaultdict(list)
    breakdown: dict[str, float] = defaultdict(float)

    def put(name: str, value: float) -> None:
        vals[name].append(value)

    traced = [o for o in ops if o.span_id]
    for o in traced:
        if att.spans[o.span_id].name == "op":
            _sync_op(o, att, put, breakdown)
        else:
            _catalog_op(o, att, put)
    traced_s = [o.seconds for o in traced]
    plain_s = [o.seconds for o in ops if not o.span_id]
    put("trace.op_p50_s", statistics.median(traced_s))
    if plain_s:
        put("trace.overhead_s", statistics.median(traced_s) - statistics.median(plain_s))
    put("session.start_s", session_s)
    put("process.peak_rss_mb", rss_mb)
    metrics = {name: float(statistics.median(vals[name])) if vals[name] else 0.0 for name in PER_LAYER}
    lines = []
    if breakdown:
        wall = breakdown.pop("sync_table (wall)")
        lines.append(f"sync_table self time by layer, {len(traced)} traced ops (seconds per op, share of wall):")
        for name, secs in sorted(breakdown.items(), key=lambda kv: -kv[1]):
            lines.append(f"  {name:40s} {secs / len(traced):8.4f}  {secs / wall:6.1%}")
        lines.append(f"  {'accounted / wall':40s} {sum(breakdown.values()) / wall:15.1%}")
    return metrics, lines


# -------------------------------------------------------------------- run


def run(workload: str, seed: int, seconds: float, traced: bool, work: str, out_dir: str) -> dict:
    wl = WORKLOADS[workload](work, seed)
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if traced:
        os.makedirs(log_dir)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_session(app_name=f"perfbench-{workload}", extra_conf=extra)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        checked = wl.warm_up(spark)
        # the program's own time counts toward set-up; checking it does not
        setup_s = session_s + gen_s + sum(o.seconds for o in checked)

        tracer = Tracer(spark.sparkContext) if traced else None
        ops: list[OpResult] = []
        errors = 0
        with tracer.patched(wl.trace_targets()) if tracer else contextlib.nullcontext():
            deadline = time.perf_counter() + seconds
            while True:
                if tracer:  # alternate instrumented and plain rounds
                    tracer.enabled = (len(ops) // wl.round_size) % 2 == 0
                try:
                    ops.append(wl.op(spark, tracer))
                except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                    traceback.print_exc()
                    errors += 1
                # a traced run ends no earlier than after one plain round, the
                # base of trace.overhead_s
                if (
                    wl.at_boundary()
                    and time.perf_counter() >= deadline
                    and (not tracer or len(ops) + errors >= 2 * wl.round_size)
                ):
                    break
        rss = peak_rss_mb()
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        teardown_s = time.perf_counter() - t0

    checked += ops
    failures = [f"{o.label}: {p}" for o in checked for p in o.problems]
    failed = errors + sum(1 for o in checked if o.problems)
    result = {
        "correct": failed == 0,
        "attempted": errors + len(checked),
        "failed": failed,
    }
    durations = [o.seconds for o in ops]
    context = {
        "workload": workload,
        "seed": seed,
        "measured_ops": len(ops),
        "op_tail_percentile": TAIL_PCT,
        "ops_beyond_tail": int(sum(d > np.percentile(durations, TAIL_PCT) for d in durations)),
        "peak_rss_mb": round(rss, 1),
        "teardown_s": round(teardown_s, 2),
        "op_seconds": [round(d, 4) for d in durations],
        "failures": failures[:5],
    }
    if wl.balanced:
        labels = sorted({o.label for o in ops})
        context["op_median_s"] = {
            k: round(statistics.median(o.seconds for o in ops if o.label == k), 4) for k in labels
        }
    breakdown: list[str] = []
    if traced:
        jobs = read_event_log(log_dir)
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{workload}-seed{seed}-trace.json"), jobs)
        metrics, breakdown = per_layer(ops, tracer, jobs, session_s, rss)
        units = PER_LAYER
    else:
        metrics = end_to_end(ops, setup_s, wl.balanced)
        units = END_TO_END
    result["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    return {"context": context, "result": result, "breakdown": breakdown}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every file the run makes stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, spark-submit's launcher included; the perf-data file would
    # go to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    nproc = len(os.sched_getaffinity(0))
    cpus = min(nproc, int(os.environ.get("SPARK_GRAFT_CPUS", nproc)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    load_before = os.getloadavg()[0]
    steal0, total0 = _cpu_ticks()
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), work, os.path.join(cwd, ".perfbench_out"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = _cpu_ticks()
    out["context"].update(
        nproc=nproc,
        spark_parallelism=cpus,
        loadavg_before=round(load_before, 2),
        loadavg_after=round(os.getloadavg()[0], 2),
        steal_pct=round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 3),
    )
    result = out["result"]
    for line in out["breakdown"]:
        print(line, file=sys.stderr)
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"context": out["context"]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
