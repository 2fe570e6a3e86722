"""The repository benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see perfbench/README.md):

- ``ingest_feed``: a seeded Zipf block feed written through
  ``ingest.facade.ingest`` into a ``ParquetSink``, then a seeded header
  feed with reorgs drained by ``ingest.facade.stream_ingest_blocks``;
- ``graph_iterative``: iterative graph queries through ``registry.QUERIES``;
- ``analytics_mix``: the ``bench.py`` headline queries plus four
  Python/Arrow-heavy queries through ``registry.QUERIES``.

The engine runs on ``local[$(nproc)]`` with the library defaults, one
call at a time. Set-up (operator registry load, session build and the
``bench.py`` warm-up) is timed once. The run then times whole passes
over the workload until ``--seconds`` have elapsed (at least one),
checks the outputs outside the timed windows and prints, as its last
line, ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics.
``--trace 1`` runs the workload twice in fresh processes, untraced and
traced, and reports the per-layer metrics from the traced one (event
log folded per job group, a streaming listener and storage probes)
plus ``trace.overhead_s``. The exit code is 1 when a check fails and 2
when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

GRAPH_QUERIES = [
    "graph_pagerank",
    "graph_hits_bounded",
    "graph_katz_bounded",
    "graph_kcore_peel",
]
HEADLINE = [
    "golden_q1_pricing", "golden_q3_shipping", "golden_q5_volume",
    "golden_q6_revenue", "golden_q8_market_share", "golden_q9_profit",
    "golden_q18_large_orders", "join_multiway", "join_asof", "agg_groupby",
    "agg_cube", "win_topk_per_group", "dedup_keys", "dedup_exact",
    "dedup_near", "sim_topk_exact", "sim_ann_lsh", "sim_ann_ivf",
    "embed_centroids", "text_tfidf", "text_tokenize", "stream_tumbling",
    "ingest_tx_explode", "ingest_address_totals",
]
ANALYTICS_QUERIES = HEADLINE + [
    "dedup_semantic", "embedding_pipeline", "udtf_grouped_map",
    "multimodal_phash_dedup",
]
WORKLOAD_QUERIES = {
    "ingest_feed": [],
    "graph_iterative": GRAPH_QUERIES,
    "analytics_mix": ANALYTICS_QUERIES,
}
MIN_TAIL_SAMPLES = 10

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "call_p50_ms": "ms",
    "call_tail_ms": "ms",
}
SINK_TABLES = ("block", "transaction", "tx_output", "address_totals",
               "summary_statistics")
PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.build_s": "s",
    "session.warmup_s": "s",
    "registry.load_s": "s",
    "query.build_s": "s",
    "query.action_s": "s",
    "query.jobs": "count",
    "query.stages": "count",
    "query.tasks": "count",
    "query.driver_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "cache.bytes_held": "bytes",
    "cache.rdds_held": "count",
    "ingest.sync_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    **{f"sources.sink_write_s.{t}": "s" for t in SINK_TABLES},
    "sources.sink_bytes": "bytes",
    "sources.sink_files": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.shuffle_read_skew": "ratio",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_returned": "bytes",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_ms": "ms",
    "trace.overhead_s": "s",
}


def tail_percentile(n: int) -> float:
    """Highest percentile with at least MIN_TAIL_SAMPLES samples beyond it."""
    return max(50.0, 100.0 * (1.0 - MIN_TAIL_SAMPLES / n)) if n else 50.0


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile of ``values``."""
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(run_dir: str, event_log_dir: str | None) -> None:
    """Keep every temporary file of Python, the JVM and Spark inside the
    run directory, and enable the event log for a traced run. Must run
    before the engine or the JVM is started."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_GRAFT_CACHE", None)
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    sys.path.insert(0, ROOT)


def query_tables() -> str:
    """Directory of the generated query tables, written on first use."""
    from tables import TABLE_SEED, TABLE_SF, write_tables

    out = os.path.join(WORK, f"tables-sf{TABLE_SF}-seed{TABLE_SEED}")
    return write_tables(out, TABLE_SF, TABLE_SEED)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # where guest time is already counted in user time
    return fields[7], sum(fields[:8])


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    size = files = 0
    for base, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(base, name))
            files += 1
    return size, files


def source_digest() -> str:
    """Content digest of the engine package (the checkout has no git)."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "graphsense_datafeed_spark")
    for base, dirs, names in os.walk(pkg):
        dirs.sort()
        for name in sorted(n for n in names if n.endswith(".py")):
            full = os.path.join(base, name)
            h.update(os.path.relpath(full, ROOT).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


class TimedSink:
    """``Sink`` that delegates to a ``ParquetSink`` and times each write;
    ``after_write`` (untimed) runs when each write has returned."""

    def __init__(self, inner, after_write=None):
        self.inner = inner
        self.after_write = after_write
        self.write_s: dict[str, float] = {}

    def write(self, df, table, keys):
        t0 = time.perf_counter()
        self.inner.write(df, table, keys)
        self.write_s[table] = self.write_s.get(table, 0.0) + time.perf_counter() - t0
        if self.after_write:
            self.after_write()


class Tracer:
    """Per-layer probes of a traced run: job groups, storage info after
    every call and a listener for streaming progress."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.cache_bytes = 0
        self.cache_rdds = 0
        self.shuffle_sizes: dict[int, list[int]] = {}  # id -> bytes per reducer
        self.shuffle_skew: list[float] = []
        self.progress: list[dict] = []
        self.sink_write_s: dict[str, list[float]] = {}
        self.sink_bytes: list[int] = []
        self.sink_files: list[int] = []
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {"durationMs": dict(p.durationMs), "rows": p.numInputRows}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def group(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.workload}:{name}", name)

    def probe_storage(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        held = [i for i in infos if i.numCachedPartitions() > 0]
        self.cache_bytes = max(
            self.cache_bytes, sum(i.memSize() + i.diskSize() for i in held)
        )
        self.cache_rdds = max(self.cache_rdds, len(held))

    def shuffles(self) -> dict:
        """Shuffle id -> ``ShuffleStatus`` of every shuffle the driver's
        map output tracker holds."""
        tracker = self.sc._jsc.sc().env().mapOutputTracker()
        it = tracker.shuffleStatuses().iterator()
        out = {}
        while it.hasNext():
            pair = it.next()
            out[pair._1()] = pair._2()
        return out

    def record_shuffles(self) -> None:
        """Record the bytes per reducer partition of every shuffle not yet
        recorded, from the map output statistics (what the map tasks
        wrote for each reducer, before AQE coalesces reducers into tasks).
        Called right after each sink write: the context cleaner drops a
        shuffle once the plan that ran it is garbage-collected."""
        for sid, status in self.shuffles().items():
            if sid in self.shuffle_sizes:
                continue
            maps = [m for m in status.mapStatuses() if m is not None]
            sizes: list[int] = []
            while maps:
                try:
                    sizes.append(sum(m.getSizeForBlock(len(sizes)) for m in maps))
                except Exception as exc:  # the JVM error, as PySpark converts it
                    if "IndexOutOfBounds" not in f"{type(exc).__name__}: {exc}":
                        raise
                    break  # past the shuffle's last reducer
            self.shuffle_sizes[sid] = sizes

    def probe_shuffle_skew(self, before: set[int]) -> None:
        """Record max ÷ median bytes per reducer partition of the largest
        shuffle recorded since ``before``."""
        new = [v for k, v in self.shuffle_sizes.items() if k not in before]
        largest = max(new, key=sum, default=[])
        if sum(largest):
            skew = max(largest) / statistics.median(largest)
            self.shuffle_skew.append(skew)
            print(f"# shuffle: largest {sum(largest)} bytes over {len(largest)} "
                  f"reducers, max {max(largest)}, skew {skew:.3f}", flush=True)


class Bench:
    """One run of one workload: inputs, set-up, timed passes, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.run_dir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
        self.event_log_dir = os.path.join(self.run_dir, "eventlog") if traced else None
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_s: list[float] = []
        self.call_s: list[float] = []
        self.build_s: list[float] = []  # per pass: time inside the query calls
        self.action_s: list[float] = []  # per pass: time inside .count()
        self.sync_s: list[float] = []
        self.inputs: dict = {}
        self.tracer: Tracer | None = None

    # -- set-up -------------------------------------------------------
    def make_inputs(self) -> None:
        self.sf_dir = query_tables()
        self.inputs["tables_bytes"] = dir_stats(self.sf_dir)[0]
        if self.workload == "ingest_feed":
            import feed

            self.feed_dir = os.path.join(self.run_dir, "blocks")
            self.header_dir = os.path.join(self.run_dir, "headers")
            self.tallies = feed.write_block_feed(self.feed_dir, self.seed)
            self.inputs["block_feed"] = {
                "bytes": self.tallies["json_bytes"], **self.tallies["rows"],
                "zipf_exponent": feed.ZIPF_EXPONENT,
            }
            self.inputs["header_feed"] = {
                **feed.write_header_feed(self.header_dir, self.seed),
                "reorg_share": feed.REORG_SHARE,
            }
        else:
            self.inputs["queries"] = len(WORKLOAD_QUERIES[self.workload])

    def warm_up(self, spark) -> None:
        """The ``bench.py`` warm-up: JVM/codegen and page cache on the
        fact tables, then the pandas_udf and mapInArrow worker pools."""
        import pyspark.sql.functions as F
        from graphsense_datafeed_spark.sources.tables import load

        load(spark, self.sf_dir, "lineitem").count()
        load(spark, self.sf_dir, "events").count()
        warm = F.pandas_udf(lambda s: s, "long")
        spark.range(64).repartition(32).select(warm("id")).count()

        def same(batches):
            yield from batches

        spark.range(64).repartition(32).mapInArrow(same, "id long").count()

    def set_up(self):
        t0 = time.perf_counter()
        from graphsense_datafeed_spark import registry
        from graphsense_datafeed_spark.session import build_session

        registry.load_all_operators()
        t1 = time.perf_counter()
        spark = build_session("perfbench")
        t2 = time.perf_counter()
        if self.traced:
            spark.sparkContext.setJobGroup(f"{self.workload}:setup", "setup")
        self.warm_up(spark)
        t3 = time.perf_counter()
        self.registry_s, self.build_s_setup, self.warmup_s = t1 - t0, t2 - t1, t3 - t2
        self.setup_s = t3 - t0
        print(f"# setup: registry {t1 - t0:.3f} s, session {t2 - t1:.3f} s, "
              f"warm-up {t3 - t2:.3f} s", flush=True)
        return spark

    def check(self, name: str, fn, *args) -> None:
        """Run one output check; a mismatch or an exception is a failure."""
        self.failures += run_check(name, fn, *args)

    def check_queries(self, results: list, expected: dict) -> None:
        """Hash every result of the pass on one thread per core. The
        hashes re-run the queries' plans; they run after the timed pass,
        so running them side by side changes no metric."""
        from concurrent.futures import ThreadPoolExecutor

        from checks import check_query

        def one(item):
            qid, df = item
            if self.tracer:
                self.tracer.group("check")  # job groups are per thread
            return run_check(qid, check_query, qid, df, expected)

        with ThreadPoolExecutor(max_workers=nproc()) as pool:
            for failures in pool.map(one, results):
                self.failures += failures

    # -- passes ---------------------------------------------------------
    def query_pass(self, spark, k: int, expected: dict) -> None:
        from graphsense_datafeed_spark import registry

        order = WORKLOAD_QUERIES[self.workload]
        total = build = action = 0.0
        results = []  # (qid, DataFrame) to check once the pass is timed
        for qid in order:
            self.attempted += 1
            if self.tracer:
                self.tracer.group(qid)
            try:
                t0 = time.perf_counter()
                df = registry.QUERIES[qid](spark, self.sf_dir)
                t1 = time.perf_counter()
                df.count()
                t2 = time.perf_counter()
            except Exception as exc:  # a failed call is counted, not fatal
                self.failures.append(f"{qid}: {type(exc).__name__}: {exc}"[:300])
                continue
            if self.tracer:
                self.tracer.probe_storage()
            build += t1 - t0
            action += t2 - t1
            total += t2 - t0
            self.call_s.append(t2 - t0)
            print(f"# call {qid} {t2 - t0:.3f} s (in call {t1 - t0:.3f} s)", flush=True)
            if k == 0:
                results.append((qid, df))
        self.pass_s.append(total)
        self.build_s.append(build)
        self.action_s.append(action)
        self.check_queries(results, expected)

    def ingest_pass(self, spark, k: int) -> None:
        from checks import check_daemon, check_sink
        from graphsense_datafeed_spark.ingest.facade import ingest, stream_ingest_blocks
        from graphsense_datafeed_spark.sources.sinks import ParquetSink

        pass_dir = os.path.join(self.run_dir, f"pass{k}")
        sink_dir = os.path.join(pass_dir, "sink")
        target = os.path.join(pass_dir, "target")
        ckpt = os.path.join(pass_dir, "ckpt")
        sink = TimedSink(
            ParquetSink(sink_dir, partition_col="block_date"),
            self.tracer.record_shuffles if self.tracer else None,
        )
        self.attempted += 2
        sync_s = drain_s = None
        try:
            if self.tracer:
                self.tracer.group("sync")
                self.tracer.record_shuffles()
                before = set(self.tracer.shuffle_sizes)
            t0 = time.perf_counter()
            ingest(spark, sink, json_path=self.feed_dir)
            sync_s = time.perf_counter() - t0
            if self.tracer:
                self.tracer.probe_storage()
                self.tracer.probe_shuffle_skew(before)
        except Exception as exc:
            self.failures.append(f"sync: {type(exc).__name__}: {exc}"[:300])
        try:
            if self.tracer:
                self.tracer.group("daemon")
            start = time.time()
            t0 = time.perf_counter()
            stream_ingest_blocks(spark, self.header_dir, target, ckpt)
            drain_s = time.perf_counter() - t0
            self.call_s += batch_latencies(ckpt, start)
            if self.tracer:
                self.tracer.probe_storage()
        except Exception as exc:
            self.failures.append(f"daemon: {type(exc).__name__}: {exc}"[:300])
        if sync_s is None or drain_s is None:
            return
        self.pass_s.append(sync_s + drain_s)
        self.sync_s.append(sync_s)
        print(f"# pass {k}: sync {sync_s:.3f} s, daemon drain {drain_s:.3f} s", flush=True)
        if self.tracer:
            for t, s in sink.write_s.items():
                self.tracer.sink_write_s.setdefault(t, []).append(s)
            size, files = dir_stats(sink_dir)
            self.tracer.sink_bytes.append(size)
            self.tracer.sink_files.append(files)
            self.tracer.group("check")
        if k == 0:
            self.check("sync", check_sink, spark, sink_dir, self.tallies)
            self.check("daemon", check_daemon, spark, self.header_dir, target)
        shutil.rmtree(pass_dir, ignore_errors=True)

    # -- the run --------------------------------------------------------
    def execute(self) -> int:
        """Make the inputs, set up, run the passes and the checks; return
        2 when the engine cannot be imported, else 0."""
        os.makedirs(self.run_dir, exist_ok=True)
        configure_env(self.run_dir, self.event_log_dir)
        try:
            import graphsense_datafeed_spark  # noqa: F401
            import pyspark
        except ImportError as exc:
            print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
            shutil.rmtree(self.run_dir, ignore_errors=True)
            return 2
        sys.path.insert(0, HERE)
        load_before = os.getloadavg()[0]
        ticks_before = cpu_ticks()
        self.make_inputs()
        spark = self.set_up()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        if self.traced:
            self.tracer = Tracer(spark, self.workload)
        with open(os.path.join(HERE, "expected.json")) as fh:
            expected = json.load(fh)
        started = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - started < self.seconds:
            if self.workload == "ingest_feed":
                self.ingest_pass(spark, k)
            else:
                self.query_pass(spark, k, expected)
            k += 1
        self.passes = k
        self.rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0
        self.host = {
            "nproc": nproc(),
            "master": spark.sparkContext.master,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }
        stop_engine(spark)
        load_after = os.getloadavg()[0]
        steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
        self.host.update(
            steal_share=steal / total if total else 0.0,
            workload=self.workload, seed=self.seed, seconds=self.seconds,
            traced=self.traced, load_before=load_before, load_after=load_after,
            contended=max(load_before, load_after) > self.host["nproc"],
            git_commit=git_commit(), source_digest=source_digest(),
            inputs=self.inputs,
        )
        print("# host " + json.dumps(self.host, sort_keys=True))
        if not self.pass_s or not self.call_s:
            self.failures.append("no pass completed")
        for failure in self.failures:
            print(f"# FAILED {failure}")
        return 0

    def run(self) -> int:
        try:
            code = self.execute()
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)
        if code:
            return code
        metrics, samples = ({}, {}) if self.failures else self.end_to_end()
        return self.report(metrics, samples)

    def end_to_end(self):
        pct = tail_percentile(len(self.call_s))
        values = {
            "setup_s": (self.setup_s, 1),
            "wall_s": (statistics.median(self.pass_s), len(self.pass_s)),
            "call_p50_ms": (1000 * statistics.median(self.call_s), len(self.call_s)),
            "call_tail_ms": (1000 * percentile(self.call_s, pct), len(self.call_s)),
        }
        samples = {k: n for k, (_v, n) in values.items()}
        samples["call_tail_ms"] = f"{samples['call_tail_ms']} (p{pct:.1f})"
        return {k: v for k, (v, _n) in values.items()}, samples

    def report(self, metrics: dict, samples: dict, units: dict = END_TO_END) -> int:
        for name, value in metrics.items():
            print(f"# {name} = {value:.6g} {units[name]} (samples: {samples.get(name, 1)})")
        result = {
            "correct": not self.failures,
            "attempted": max(self.attempted, 1),
            "failed": len(self.failures),
            "metrics": {
                name: {"value": value, "unit": units[name]}
                for name, value in metrics.items()
            },
        }
        print(json.dumps(result), flush=True)
        return 0 if not self.failures else 1


def run_check(name: str, fn, *args) -> list[str]:
    """The failures one output check finds; an exception is one failure."""
    try:
        return fn(*args)
    except Exception as exc:  # a check that cannot run is a failed check
        return [f"{name} check: {type(exc).__name__}: {exc}"[:300]]


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def batch_latencies(ckpt: str, start: float) -> list[float]:
    """Per-micro-batch latency from the checkpoint's commit log: batch
    ``i`` ends when ``commits/i`` is written and is triggered when batch
    ``i-1`` committed (``availableNow`` drains back to back); batch 0 is
    triggered at ``start``."""
    commits = os.path.join(ckpt, "commits")
    ids = sorted(int(n) for n in os.listdir(commits) if n.isdigit())
    out, prev = [], start
    for i in ids:
        done = os.path.getmtime(os.path.join(commits, str(i)))
        out.append(done - prev)
        prev = done
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_QUERIES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--traced-pass", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.trace:
        from traced import run_traced

        return run_traced(args)
    bench = Bench(args.workload, args.seed, args.seconds, args.traced_pass)
    if args.traced_pass:
        from traced import report_traced

        return report_traced(bench)
    return bench.run()


if __name__ == "__main__":
    sys.exit(main())
