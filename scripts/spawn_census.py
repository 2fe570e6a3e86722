"""Count the processes the driver JVM forks during one engine call.

    python scripts/spawn_census.py sync   [--seed 11]
    python scripts/spawn_census.py daemon [--seed 11]
    python scripts/spawn_census.py stream_tumbling [--sf-dir D]

Without libhadoop, Hadoop's local file system shells out for some
calls (``readlink`` for FileContext's link checks, ``chmod`` for
``setPermission``), so a fork count per call is a cost that neither
the event log nor the job counters show.  This script starts a fresh
session (``session.build_session``) whose driver JVM runs with
``-XX:StartFlightRecording`` recording only ``jdk.ProcessStart``, runs
ONE call, dumps the recording, and prints the forks that started
during the call, counted by program, with the JDK's ``jfr`` tool:

- ``sync``: ``ingest.facade.ingest`` of the seeded block feed into a
  ``ParquetSink`` (the ``ingest_feed`` workload's sync);
- ``daemon``: one ``stream_ingest_blocks`` drain of the seeded header
  feed (the workload's daemon; the micro-batch count is printed too);
- any registered query id: ``QUERIES[qid](spark, sf_dir).count()``,
  by default on perfbench's generated query tables.

The feeds and tables come from perfbench (feed.py with the workload's
seed, run.py ``query_tables``). Everything else written goes to a
temporary directory that is removed at the end.  The output is one ``# census`` line per program and a final
JSON line ``{"call", "seconds", "forks": {program: n}, ...}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

# Only the event this census reads: no sampling, no periodic events.
_JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="spawn census">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""


def _start_session(work: str):
    """A fresh engine session whose driver JVM records process starts."""
    jfc = os.path.join(work, "census.jfc")
    with open(jfc, "w") as fh:
        fh.write(_JFC)
    opts = f"-XX:StartFlightRecording=name=census,settings={jfc}"
    prior = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    if prior and prior[-1] == "pyspark-shell":
        prior = prior[:-1]
    if "--driver-java-options" in prior:
        i = prior.index("--driver-java-options") + 1
        prior[i] = f"{prior[i]} {opts}"
    else:
        prior += ["--driver-java-options", opts]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(prior + ["pyspark-shell"])
    from graphsense_datafeed_spark import registry
    from graphsense_datafeed_spark.session import build_session

    registry.load_all_operators()
    return build_session("spawn-census")


def _call(spark, what: str, work: str, seed: int, sf_dir: str | None):
    """Return a zero-argument function running the census call, plus a
    function giving extra facts about it afterwards."""
    import feed

    if what == "sync":
        from graphsense_datafeed_spark.ingest.facade import ingest
        from graphsense_datafeed_spark.sources.sinks import ParquetSink

        blocks = os.path.join(work, "blocks")
        feed.write_block_feed(blocks, seed)
        sink = ParquetSink(os.path.join(work, "sink"), partition_col="block_date")
        return lambda: ingest(spark, sink, json_path=blocks), lambda: {}
    if what == "daemon":
        from graphsense_datafeed_spark.ingest.facade import stream_ingest_blocks

        headers = os.path.join(work, "headers")
        feed.write_header_feed(headers, seed)
        ckpt = os.path.join(work, "ckpt")

        def batches():
            commits = os.listdir(os.path.join(ckpt, "commits"))
            return {"micro_batches": sum(n.isdigit() for n in commits)}

        target = os.path.join(work, "target")
        return lambda: stream_ingest_blocks(spark, headers, target, ckpt), batches
    from graphsense_datafeed_spark.registry import QUERIES

    if what not in QUERIES:
        raise SystemExit(f"spawn_census: not sync, daemon or a query id: {what}")
    if sf_dir is None:
        from run import query_tables

        sf_dir = query_tables()
    return lambda: QUERIES[what](spark, sf_dir).count(), lambda: {}


def _dump(spark, path: str) -> None:
    """Write the JVM's census recording to ``path``."""
    jvm = spark.sparkContext._jvm
    for rec in jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings():
        if rec.getName() == "census":
            rec.dump(jvm.java.io.File(path).toPath())
            return
    raise SystemExit("spawn_census: the driver JVM has no census recording")


def _starts(jfr_file: str) -> list[tuple[float, str]]:
    """(epoch seconds, command line) of every recorded process start."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart", jfr_file],
        check=True, capture_output=True, text=True,
    ).stdout
    starts = []
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        ts = datetime.fromisoformat(v["startTime"][:26].rstrip("Z") + "+00:00")
        starts.append((ts.timestamp(), v["command"]))
    return starts


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("call", help="sync, daemon or a registered query id")
    ap.add_argument("--seed", type=int, default=11, help="feed seed (ingest_feed)")
    ap.add_argument("--sf-dir", help="table directory for a query id "
                    "(default: perfbench's generated query tables)")
    args = ap.parse_args()
    if shutil.which("jfr") is None:
        print("spawn_census: the JDK's jfr tool is not on PATH", file=sys.stderr)
        return 2
    work = tempfile.mkdtemp(prefix="spawn_census_")
    spark = None
    try:
        spark = _start_session(work)
        run, facts = _call(spark, args.call, work, args.seed, args.sf_dir)
        t0 = time.time()
        run()
        t1 = time.time()
        rec = os.path.join(work, "census.jfr")
        _dump(spark, rec)
        forks = Counter(
            os.path.basename(cmd.split(" ", 1)[0])
            for ts, cmd in _starts(rec)
            if t0 <= ts <= t1
        )
        for prog, n in forks.most_common():
            print(f"# census {args.call}: {n:6d} {prog}", flush=True)
        print(json.dumps({
            "call": args.call, "seconds": round(t1 - t0, 3),
            "forks": dict(forks.most_common()), **facts(),
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
