"""The traced run (``--trace 1``): per-layer metrics and tracing overhead.

``run_traced`` starts two fresh processes of ``run.py`` on the same
workload, seed and duration: an untraced one (``--trace 0``) and a
traced one (``--traced-pass``). The traced process records job groups,
the uncompressed event log, streaming progress and storage info, and
``report_traced`` folds them into the per-layer metrics below. Counts
and times are per pass. ``trace.overhead_s`` is the traced ``wall_s``
minus the untraced one.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import run
from eventlog import GroupCounters, fold_file

CHILD_TIMEOUT_S = 85


def _child(argv: list[str], deadline: float) -> dict:
    timeout = max(1.0, min(CHILD_TIMEOUT_S, deadline - time.monotonic()))
    out = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), *argv],
        stdout=subprocess.PIPE, text=True, timeout=timeout,
    )
    lines = out.stdout.splitlines()
    for line in lines[:-1]:
        print(line)
    if out.returncode == 2 or not lines:
        raise SystemExit(2)
    return json.loads(lines[-1])


def run_traced(args) -> int:
    deadline = time.monotonic() + 2 * CHILD_TIMEOUT_S
    base = ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds)]
    plain = _child(base + ["--trace", "0"], deadline)
    traced = _child(base + ["--traced-pass"], deadline)
    metrics = {k: v["value"] for k, v in traced["metrics"].items() if k in run.PER_LAYER}
    if plain["metrics"] and traced["metrics"]:
        metrics["trace.overhead_s"] = (
            traced["metrics"]["wall_s"]["value"] - plain["metrics"]["wall_s"]["value"]
        )
    correct = plain["correct"] and traced["correct"] and len(metrics) == len(run.PER_LAYER)
    result = {
        "correct": correct,
        "attempted": plain["attempted"] + traced["attempted"],
        "failed": plain["failed"] + traced["failed"],
        "metrics": {
            k: {"value": metrics[k], "unit": u}
            for k, u in run.PER_LAYER.items() if k in metrics
        } if correct else {},
    }
    for name, value in result["metrics"].items():
        print(f"# {name} = {value['value']:.6g} {value['unit']}")
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def _event_log(bench: run.Bench) -> str:
    """The event log of the session the passes ran in (the last one)."""
    logs = [os.path.join(bench.event_log_dir, n) for n in os.listdir(bench.event_log_dir)]
    return max(logs, key=os.path.getmtime)


def _fold(bench: run.Bench) -> dict[str, GroupCounters]:
    """Counters per call group; jobs outside the benchmark's groups (the
    streaming query's own) go to the daemon on ingest_feed."""
    wl = bench.workload
    spill = f"{wl}:daemon" if wl == "ingest_feed" else f"{wl}:other"
    merged: dict[str, GroupCounters] = {}
    for group, c in fold_file(_event_log(bench)).items():
        key = group if group.startswith(f"{wl}:") else spill
        merged.setdefault(key, GroupCounters()).add(c)
    return merged


def per_layer(bench: run.Bench) -> dict[str, float]:
    wl = bench.workload
    passes = max(bench.passes, 1)
    groups = _fold(bench)
    calls = GroupCounters()
    per_qid = {}
    for group, c in groups.items():
        if group not in (f"{wl}:setup", f"{wl}:check"):
            calls.add(c)
            per_qid[group.split(":", 1)[1]] = c
    for name, c in sorted(per_qid.items()):
        print(f"# calls {name}: jobs={c.jobs / passes:g} stages={c.stages / passes:g} "
              f"tasks={c.tasks / passes:g} run_s={c.run_ms / 1e3 / passes:.3f} "
              f"input_bytes={c.input_bytes / passes:g} "
              f"shuffle_read_bytes={c.shuffle_read_bytes / passes:g}")
    tracer = bench.tracer
    med = statistics.median
    wall = med(bench.pass_s)
    run_s = calls.run_ms / 1e3 / passes
    if wl == "ingest_feed":
        build, action = wall, 0.0
    else:
        build, action = med(bench.build_s), med(bench.action_s)
    m = {
        "memory.peak_rss_mb": bench.rss_mb,
        "session.build_s": bench.build_s_setup,
        "session.warmup_s": bench.warmup_s,
        "registry.load_s": bench.registry_s,
        "query.build_s": build,
        "query.action_s": action,
        "query.jobs": calls.jobs / passes,
        "query.stages": calls.stages / passes,
        "query.tasks": calls.tasks / passes,
        "query.driver_s": wall - run_s / run.nproc(),
        "exec.run_s": run_s,
        "exec.cpu_s": calls.cpu_ns / 1e9 / passes,
        "exec.gc_s": calls.gc_ms / 1e3 / passes,
        "cache.bytes_held": tracer.cache_bytes,
        "cache.rdds_held": tracer.cache_rdds,
        "ingest.sync_s": med(bench.sync_s) if bench.sync_s else 0.0,
        "sources.input_bytes": calls.input_bytes / passes,
        "sources.input_rows": calls.input_rows / passes,
        "sources.sink_bytes": med(tracer.sink_bytes) if tracer.sink_bytes else 0,
        "sources.sink_files": med(tracer.sink_files) if tracer.sink_files else 0,
        "operators.shuffle_write_bytes": calls.shuffle_write_bytes / passes,
        "operators.shuffle_read_bytes": calls.shuffle_read_bytes / passes,
        "operators.spill_bytes": calls.spill_bytes / passes,
        "operators.shuffle_read_skew": med(tracer.shuffle_skew) if tracer.shuffle_skew else 0.0,
        "functions.python_bytes_sent": calls.python_bytes_sent / passes,
        "functions.python_bytes_returned": calls.python_bytes_returned / passes,
    }
    for table in run.SINK_TABLES:
        times = tracer.sink_write_s.get(table)
        m[f"sources.sink_write_s.{table}"] = med(times) if times else 0.0
    progress = tracer.progress
    m["streaming.batches"] = len(progress) / passes
    m["streaming.input_rows"] = sum(p["rows"] for p in progress) / passes
    for name, key in (
        ("add_batch_ms", "addBatch"),
        ("planning_ms", "queryPlanning"),
        ("latest_offset_ms", "latestOffset"),
        ("wal_commit_ms", "walCommit"),
        ("commit_ms", "commit"),
    ):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        m[f"streaming.{name}"] = med(vals) if vals else 0.0
    m["wall_s"] = wall
    return m


def report_traced(bench: run.Bench) -> int:
    try:
        code = bench.execute()
        if code:
            return code
        metrics = {} if bench.failures else per_layer(bench)
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    units = {**run.PER_LAYER, "wall_s": "s"}
    return bench.report(metrics, {}, units)
