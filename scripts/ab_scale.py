"""A/B scale measurements for SCALE.md's strongest plan claims.

    python scripts/ab_scale.py [--sf /tmp/sf1] [--reps 3]

Two claims were plan-pinned but unmeasured above sf0.1 until round 9:

A. histogram_equidepth's TWO-LEVEL ranking (cell prefix counts + keyed
   within-cell row_number) vs the naive single-partition global
   NTILE window it replaced.
B. join_bucketed_colocated's ZERO-EXCHANGE sort-merge join on
   pre-bucketed tables vs the same join shuffling both sides
   (bucketed-write cost amortizes over every downstream join, so the
   honest comparison is steady-state join time, with the one-time
   write reported separately).

Prints one JSON line: median seconds per variant over --reps runs
after one warmup each, plus the ratio.
"""

from __future__ import annotations

import argparse
import json
import statistics
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def timed(fn, reps):
    fn()  # warmup
    out = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        out.append(time.time() - t0)
    return round(statistics.median(out), 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/sf1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--skip-pairs", action="store_true", dest="skip_pairs",
                    help="skip the quadratic all-pairs dedup variant")
    args = ap.parse_args()

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from graphsense_datafeed_spark.operators.joins import _bucketed_table
    from graphsense_datafeed_spark.registry import QUERIES, load_all_operators
    from graphsense_datafeed_spark.session import build_session
    from graphsense_datafeed_spark.sources.tables import load

    load_all_operators()
    spark = build_session("ab-scale")
    res: dict[str, object] = {"sf_dir": args.sf, "reps": args.reps}

    # ---- A: equidepth histogram, two-level vs naive global window ----
    def two_level():
        QUERIES["histogram_equidepth"](spark, args.sf).count()

    def naive_ntile():
        orders = load(spark, args.sf, "orders").select(
            "o_totalprice", "o_orderkey"
        )
        w = Window.orderBy("o_totalprice", "o_orderkey")  # single partition
        (
            orders.select("o_totalprice", F.ntile(8).over(w).alias("bucket"))
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_orders"),
                F.floor(F.min("o_totalprice")).alias("lo_fl"),
                F.floor(F.max("o_totalprice")).alias("hi_fl"),
            )
            .count()
        )

    res["equidepth_two_level_s"] = timed(two_level, args.reps)
    res["equidepth_naive_ntile_s"] = timed(naive_ntile, args.reps)
    res["equidepth_speedup"] = round(
        res["equidepth_naive_ntile_s"] / res["equidepth_two_level_s"], 2
    )

    # ---- B: orders x lineitem SMJ, bucketed zero-exchange vs shuffle ----
    t0 = time.time()
    o_bk = _bucketed_table(spark, args.sf, "orders", "o_orderkey")
    li_bk = _bucketed_table(spark, args.sf, "lineitem", "l_orderkey")
    res["bucketed_write_amortized_s"] = round(time.time() - t0, 3)

    def join_agg(o, li):
        (
            o.hint("merge")
            .join(li, o["o_orderkey"] == li["l_orderkey"])
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_items"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                ).alias("revenue_cents"),
            )
            .count()
        )

    def bucketed():
        join_agg(o_bk, li_bk)

    def shuffled():
        join_agg(
            load(spark, args.sf, "orders"), load(spark, args.sf, "lineitem")
        )

    res["join_bucketed_s"] = timed(bucketed, args.reps)
    res["join_shuffled_s"] = timed(shuffled, args.reps)
    res["join_speedup"] = round(
        res["join_shuffled_s"] / res["join_bucketed_s"], 2
    )

    # ---- C: near-dup — banded LSH vs naive all-pairs exact Jaccard ----
    # The SCALE.md claim: banded candidates scale with the corpus,
    # all-pairs scales with its SQUARE. Measured here at the given SF;
    # run at two SFs to see the decade ratio split.
    if not args.skip_pairs:

        def banded():
            QUERIES["dedup_near"](spark, args.sf).count()

        def naive_pairs():
            docs = load(spark, args.sf, "documents").select(
                "doc_id",
                F.array_distinct(F.split(F.lower("text"), " ")).alias("toks"),
            )
            a, b = docs.alias("a"), docs.alias("b")
            inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
            uni = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
            (
                a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
                .select((inter / uni).alias("j"))
                .filter(F.col("j") >= 0.8)
                .count()
            )

        res["dedup_banded_s"] = timed(banded, args.reps)
        res["dedup_naive_pairs_s"] = timed(naive_pairs, args.reps)
        res["dedup_speedup"] = round(
            res["dedup_naive_pairs_s"] / res["dedup_banded_s"], 2
        )

    # sanity: the bucketed plan really has no Exchange
    plan = (
        o_bk.hint("merge")
        .join(li_bk, o_bk["o_orderkey"] == li_bk["l_orderkey"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    res["bucketed_plan_has_exchange"] = "Exchange" in plan

    print(json.dumps(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
