"""Single-session census soak — the round-9 sf1 failure shape, re-run.

    python scripts/soak_census.py [--sf-dir D] [--driver-mem M]
                                             [--queries N]

Round 9's sf1 oracle-parity census found that ~55 back-to-back queries
in ONE bare 1 GiB-driver session eventually fail a broadcast build
(golden_q8) from cumulative driver-heap pressure: broadcast/shuffle
blocks are only reclaimed when a JVM GC runs, and the stock
``spark.cleaner.periodicGC.interval`` of 30 min lets a mostly-idle heap
accumulate a session's worth of blocks first (SCALE.md §sf1 census).

This script rebuilds that exact shape — a small-heap driver, N
broadcast-heavy queries executed sequentially in one session, golden_q8
LAST — with ``spark.cleaner.periodicGC.interval=5min`` (now in
session.BUILDER_CONFS) so the fix stays measured, not asserted.  Exit 0
iff every query collects.

Run it at sf1 to reproduce the original boundary; the pytest suite runs
the same harness at sf0.01 as a cheap structural guard.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def soak_query_ids(n: int) -> list[str]:
    """The census-soak panel: broadcast-heavy goldens + an alphabetical
    agg block, with golden_q8 (the round-9 failure) pinned LAST."""
    from graphsense_datafeed_spark import registry

    registry.load_all_operators()
    goldens = sorted(
        q for q in registry.ORACLES if q.startswith("golden_") and q != "golden_q8_market_share"
    )
    aggs = sorted(q for q in registry.ORACLES if q.startswith("agg_"))
    panel: list[str] = []
    for q in goldens + aggs:
        if len(panel) >= n - 1:
            break
        panel.append(q)
    panel.append("golden_q8_market_share")
    return panel


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1"))
    ap.add_argument("--driver-mem", default="1g", help="deliberately small (census shape)")
    ap.add_argument("--queries", type=int, default=55)
    # The census shape was a bare local[8] session: heap-per-concurrent-
    # task is the binding constraint on a small heap (1 GiB / 8 threads
    # = 128 MB per task — the documented production floor; local[32] on
    # the same heap is ~30 MB/task and OOMs executor-side on any sf1
    # sort-merge join, which is a SIZING error, not a plan bug).
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    from graphsense_datafeed_spark import registry
    from graphsense_datafeed_spark.session import build_session

    panel = soak_query_ids(args.queries)
    spark = build_session("census-soak", master=args.master)
    print(
        f"soak: {len(panel)} queries, sf_dir={args.sf_dir}, "
        f"driver-mem={args.driver_mem}, periodicGC="
        f"{spark.conf.get('spark.cleaner.periodicGC.interval', '(unset)')}",
        flush=True,
    )
    failures: list[tuple[str, str]] = []
    t0 = time.time()
    for i, qid in enumerate(panel, 1):
        try:
            t = time.time()
            n = registry.QUERIES[qid](spark, args.sf_dir).count()
            print(f"[{i:3}/{len(panel)}] {qid}: {n} rows in {time.time()-t:.1f}s", flush=True)
        except Exception as ex:  # noqa: BLE001 — soak records, never masks
            failures.append((qid, f"{type(ex).__name__}: {str(ex)[:200]}"))
            print(f"[{i:3}/{len(panel)}] {qid}: FAILED {failures[-1][1]}", flush=True)
    print(f"soak wall: {time.time()-t0:.1f}s; FAILURES: {failures or 'none'}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
