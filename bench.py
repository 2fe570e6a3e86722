"""Benchmark harness — one JSON line for the driver (BENCH_r{N}.json).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {qid: sec, ...}, "sf": <sf>}

Headline set = the flagship goldens + one representative of each
expensive operator family (shuffle join, window top-k, streaming agg,
MinHash LSH, ANN, TF-IDF, ingest explode) — the queries whose plans
actually move data. Results are materialized with count() on the
executors; nothing but the row count crosses to the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "golden_q1_pricing",
    "golden_q3_shipping",
    "golden_q5_volume",
    "golden_q6_revenue",
    "golden_q8_market_share",
    "golden_q9_profit",
    "golden_q18_large_orders",
    "join_multiway",
    "join_asof",
    "agg_groupby",
    "agg_cube",
    "win_topk_per_group",
    "dedup_keys",
    "dedup_exact",
    "dedup_near",
    "sim_topk_exact",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "embed_centroids",
    "text_tfidf",
    "text_tokenize",
    "stream_tumbling",
    "ingest_tx_explode",
    "ingest_address_totals",
]


def main() -> None:
    # hot-table cache: repeated headline queries reuse columnar scans.
    # SPARK_GRAFT_CACHE=0 runs the honest cold mode (every query pays
    # its own scans) — BASELINE.md records BOTH numbers so the perf
    # gate never silently leans on the cache.
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Scale-aware default: above ~512 MB of parquet the columnar cache
    # no longer fits the executor heap and ping-pongs between eviction
    # and recompute — measured at sf10: "hot" 394 s vs cold 256 s on
    # identical code. Caching a working set you can't hold is worse
    # than rescanning; default to cold there (explicit env still wins).
    try:
        import glob as _glob

        data_bytes = sum(
            os.path.getsize(p) for p in _glob.glob(f"{sf_dir}/*.parquet")
        )
    except OSError:
        data_bytes = 0
    os.environ.setdefault(
        "SPARK_GRAFT_CACHE", "0" if data_bytes > 512_000_000 else "1"
    )
    # Scale-aware heap (third-decade lesson): the stock 8g local JVM
    # is 256 MB per concurrent task at local[32] — measured OOM on
    # sf100's 600M-row scans. Size the heap like a cluster would
    # (~1-2 GB/core once input outgrows the lean default): 8g up to
    # ~2 GB of parquet, else ~3x input capped at 48g. Explicit
    # SPARK_GRAFT_DRIVER_MEM still wins.
    if data_bytes > 2_000_000_000:
        gb = min(48, max(16, (3 * data_bytes) // 1_000_000_000))
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{gb}g")
    cache_hot = os.environ["SPARK_GRAFT_CACHE"] == "1"
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    from graphsense_datafeed_spark import registry
    from graphsense_datafeed_spark.session import build_session

    registry.load_all_operators()
    spark = build_session("gds-bench")
    # Warm the JVM/codegen and the OS page cache for the fact table so
    # per-query numbers measure the plan, not first-touch costs.
    from graphsense_datafeed_spark.sources.tables import load

    load(spark, sf_dir, "lineitem").count()
    load(spark, sf_dir, "events").count()
    # This pandas_udf step starts no Python worker: .count() prunes the
    # unused UDF column, so its physical plan is Project <- Range with
    # no ArrowEvalPython.  It stays as a step of the frozen warm-up.
    # (lambda form: @pandas_udf type-hint inference breaks under this
    # module's `from __future__ import annotations` — round-1 lesson)
    import pyspark.sql.functions as F

    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(64).repartition(32).select(_warm("id")).count()
    # ...and the first mapInArrow query, which is the step that starts
    # the Python/Arrow worker pool (measured r15: ~2.5-4 s; a re-run
    # ~0.5 s).
    # Much of it is not a pool spawn but per task: each worker task
    # re-read pyspark.zip's directory once per zipimporter
    # (importlib.invalidate_caches), which build_session's worker
    # daemon skips for unchanged archives (session.py; measured on 4
    # cores: this step 3.4-3.6 -> 2.1 s, its re-run 1.6 -> 0.8 s).
    # Session setup, not query cost — same contract as the table-scan
    # warm-up.

    def _warm_arrow(batches):
        yield from batches

    spark.range(64).repartition(32).mapInArrow(_warm_arrow, "id long").count()

    # SPARK_GRAFT_ONLY=qid[,qid...] isolates a subset (the BASELINE.md
    # protocol's "isolated reading" — suite-position effects removed)
    only = os.environ.get("SPARK_GRAFT_ONLY")
    selected = [q for q in HEADLINE if not only or q in only.split(",")]
    per_query: dict[str, float] = {}
    total = 0.0
    for qid in selected:
        fn = registry.QUERIES[qid]
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        per_query[qid] = round(dt, 3)
        total += dt
        print(f"# {qid}: {dt:.3f}s ({n} rows)", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": per_query,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cache": "hot" if cache_hot else "cold",
                "cpus": len(os.sched_getaffinity(0))
                if hasattr(os, "sched_getaffinity")
                else os.cpu_count(),
                "master": spark.sparkContext.master,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
