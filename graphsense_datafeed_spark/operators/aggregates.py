"""SURVEY §2.4 — aggregations.

The reference's aggregate surface is per-block tx totals and the global
``summary_statistics`` row (SURVEY.md §1.2); §2.4 generalizes that to
the full relational aggregation surface.

Scale notes:
- Every groupBy below compiles to partial (map-side) + final
  HashAggregateExec around a single key-hash exchange — shuffled bytes
  are |groups|×partitions, not |rows| (asserted on the real plan in
  tests/test_plans.py). That property is exactly what makes these
  viable at 100 TB.
- ROLLUP/CUBE/GROUPING SETS expand rows by #grouping-sets before the
  shuffle; at scale prefer explicit grouping_sets over full CUBE to
  bound the expansion factor.
- collect_list is the one aggregate whose state is unbounded per group
  — only used on bounded groups (≤7 lines per order here; the ingest
  facade bounds by block).
- Exact COUNT(DISTINCT) re-shuffles by (group, value); the documented
  100 TB default is approx_count_distinct (HLL, mergeable sketch) with
  exact reserved for reconciliation runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphsense_datafeed_spark.functions.hashing import md5_int
from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.sources.tables import load


@query(
    "agg_global",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS total_price_cents,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table totals — the reference's ``summary_statistics`` row.

    The price total is summed in integral CENTS (round-9): a rounded
    double SUM is summation-order-sensitive, and at sf1 (6M rows) the
    two engines' partial-sum trees landed half a cent apart — the
    per-row ROUND(×100) → bigint sum is order-exact at EVERY scale
    (the golden_q1/q9 measure discipline, applied to the one global
    rollup that still carried a float sum). min/max stay float: they
    select single values, no reassociation."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.col("l_quantity").cast("int")).cast("bigint").alias("total_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_price_cents"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@query(
    "agg_groupby",
    """
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           ROUND(AVG(o_totalprice), 4) AS avg_price,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate ([REF] per-block totals: group txs by height)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@query(
    "agg_count_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@query("agg_approx_distinct")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL NDV sketch — rows-only (approximate result is engine-specific).

    tests/test_operators.py asserts the estimate is within the
    configured rsd of the exact count. At 100 TB this, not exact
    countDistinct, is the default NDV path (mergeable, no re-shuffle
    by value)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
    )


@query(
    "agg_having",
    """
    SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12 AND SUM(o_totalprice) > 100000.0
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
            F.sum("o_totalprice").alias("_raw_spend"),
        )
        .filter((F.col("n_orders") >= 12) & (F.col("_raw_spend") > 100000.0))
        .drop("_raw_spend")
    )


@query(
    "agg_rollup",
    """
    SELECT r_name, n_name,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(FLOOR(c_acctbal) AS BIGINT)) AS BIGINT) AS bal_floor_sum
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(load(spark, sf_dir, "nation")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(load(spark, sf_dir, "region")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return base.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_cust"),
        F.sum(F.floor("c_acctbal").cast("bigint")).cast("bigint").alias("bal_floor_sum"),
    )


@query(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("int")).cast("bigint").alias("qty"),
        )
    )


@query(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets with GROUPING() disambiguation (a NULL
    from the data vs a NULL meaning 'aggregated across this column')."""
    df = load(spark, sf_dir, "orders")
    return df.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        (F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority"))
        .cast("bigint")
        .alias("gid"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg_stats",
    """
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
           ROUND(var_samp(l_quantity), 4) AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "corr_qty_price"
            ),
        )
    )


@query(
    "agg_percentile",
    """
    SELECT l_linestatus,
           ROUND(median(l_extendedprice), 4) AS med_price,
           ROUND(quantile_cont(l_extendedprice, 0.90), 4) AS p90_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — same rule both engines)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.round(F.median("l_extendedprice"), 4).alias("med_price"),
            F.round(F.percentile("l_extendedprice", F.lit(0.90)), 4).alias(
                "p90_price"
            ),
        )
    )


@query(
    "agg_approx_percentile",
    """
    SELECT l_linestatus,
           quantile_disc(CAST(FLOOR(l_extendedprice * 100) AS BIGINT), 0.5)
               AS approx_median_e2,
           quantile_disc(CAST(FLOOR(l_extendedprice * 100) AS BIGINT), 0.9)
               AS approx_p90_e2
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch percentile — the 100 TB default (exact
    percentile needs a per-group sort of all values).

    Retired from rows-only to an EXACT oracle (round 8, the
    multimodal_decode/resize pattern): with ``accuracy`` A, the
    Greenwald-Khanna sketch guarantees rank error ≤ N/A; for every
    group with N < A = 10⁶ rows the error is < 1 rank, and since
    ranks are integers the sketch returns EXACTLY the discrete
    quantile — the element at rank ⌈p·N⌉, which is precisely DuckDB's
    ``quantile_disc`` (pinned empirically across odd/even/tied
    multisets).  The domain is floored to e2 integer cents so both
    engines select from the identical integer multiset.  Groups
    beyond 10⁶ rows degrade gracefully to ±N·10⁻⁶ ranks — the sketch,
    not the oracle, is the deployment mode; the oracle documents the
    exact regime.

    Scale: one groupBy with a mergeable sketch per group — partial
    sketches merge map-side, no per-group sort, no window."""
    v = F.floor(F.col("l_extendedprice") * 100).cast("bigint")
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_linestatus", v.alias("v"))
        .groupBy("l_linestatus")
        .agg(
            F.approx_percentile("v", F.lit(0.5), F.lit(1000000)).alias(
                "approx_median_e2"
            ),
            F.approx_percentile("v", F.lit(0.9), F.lit(1000000)).alias(
                "approx_p90_e2"
            ),
        )
    )


@query(
    "agg_collect",
    """
    SELECT l_orderkey,
           string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS line_numbers
    FROM lineitem
    WHERE l_orderkey < 200
    GROUP BY l_orderkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array agg, order-canonicalized (collect_list order is partition-
    dependent — always array_sort before comparing/emitting).

    The sorted array is emitted joined as a string: the driver's
    pandas-based row sort cannot factorize ndarray cells (r2 lesson —
    array-typed output columns crash its compare), so oracle-checked
    queries must present list results scalar-encoded."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 200)
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("l_linenumber")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("line_numbers")
        )
    )


@query(
    "agg_first_last",
    """
    SELECT o_custkey,
           MIN(CASE WHEN rn_f = 1 THEN o_orderkey END) AS first_order,
           MIN(CASE WHEN rn_l = 1 THEN o_orderkey END) AS last_order
    FROM (
        SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn_f,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_l
        FROM orders
    ) GROUP BY o_custkey
    """,
)
def agg_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic first/last per group. ``F.first``/``F.last`` are
    explicitly nondeterministic in Spark; the contract-grade pattern is
    row_number over an explicit total order (unique tiebreak included).
    Both windows share one partitioning → one shuffle, two sorts."""
    orders = load(spark, sf_dir, "orders")
    w_f = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_l = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w_f).alias("rn_f"),
            F.row_number().over(w_l).alias("rn_l"),
        )
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn_f") == 1, F.col("o_orderkey"))).alias(
                "first_order"
            ),
            F.min(F.when(F.col("rn_l") == 1, F.col("o_orderkey"))).alias(
                "last_order"
            ),
        )
    )


@query(
    "agg_conditional",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
               AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    0.0
                )
            ),
            2,
        ).alias("purchase_value"),
    )


@query(
    "agg_unpivot",
    """
    SELECT l_orderkey, l_linenumber, measure, ROUND(val, 2) AS val
    FROM (
        UNPIVOT (SELECT l_orderkey, l_linenumber,
                        l_quantity, l_extendedprice, l_discount
                 FROM lineitem WHERE l_orderkey < 300)
        ON l_quantity, l_extendedprice, l_discount
        INTO NAME measure VALUE val
    )
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measures → long (measure, value) rows — the
    inverse of agg_pivot and the standard reshape before per-measure
    aggregation. Pure projection+explode under the hood: no shuffle."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 300)
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val0",
    ).select(
        "l_orderkey", "l_linenumber", "measure", F.round("val0", 2).alias("val")
    )


_PIVOT_TYPES = ["click", "view", "signup", "purchase", "error"]


@query(
    "agg_pivot",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an EXPLICIT value list — without it Spark must run an
    extra distinct job to discover pivot columns (a full pass at 100 TB)
    and the output schema becomes data-dependent."""
    df = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .count()
    )
    # pivot yields NULL for absent combos; the FILTER oracle yields 0.
    return df.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _PIVOT_TYPES],
    )


@query(
    "agg_approx_topk",
    """
    SELECT CAST(rn AS INT) AS rank_k, event_type, cnt
    FROM (
      SELECT event_type, COUNT(*) AS cnt,
             row_number() OVER (ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events GROUP BY event_type
    ) WHERE rn <= 3
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters via approx_top_k (Spark 4's
    space-saving sketch). With 5 distinct event types against the
    default 10k tracked items the sketch is EXACT, and the per-type
    counts are distinct at every fixture SF (verified) — so this
    oracle-checks against the exact GROUP BY top-3. At real
    cardinality (url/token heavy hitters at 100 TB) the sketch keeps
    the aggregation state bounded where the exact GROUP BY's hash
    table grows with NDV; ties in estimated counts are broken by item
    to keep the output deterministic."""
    tk = (
        load(spark, sf_dir, "events")
        .agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
        .select(F.posexplode("tk").alias("pos", "x"))
    )
    return tk.select(
        (F.col("pos") + 1).cast("int").alias("rank_k"),
        F.col("x.item").alias("event_type"),
        F.col("x.count").alias("cnt"),
    )


@query(
    "agg_mode",
    """
    SELECT l_returnflag, mode_qty FROM (
      SELECT l_returnflag, l_quantity AS mode_qty,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, l_quantity) AS rn
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent value per group via F.mode(deterministic=True),
    which breaks frequency ties by taking the lowest value — the
    oracle spells that contract out as count-then-value ranked SQL, so
    the check pins the tie semantics, not just the happy path."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.mode("l_quantity", deterministic=True).alias("mode_qty"))
    )


@query(
    "agg_bool",
    """
    SELECT l_returnflag,
           bool_and(l_quantity > 0)     AS all_positive_qty,
           bool_or(l_discount > 0.09)   AS any_deep_discount,
           bool_and(l_tax <= 0.08)      AS all_tax_capped
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) — the constraint-audit shape:
    one partial+final agg pass answers 'does any row violate X' without
    materializing violators."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.bool_and(F.col("l_tax") <= 0.08).alias("all_tax_capped"),
    )


@query(
    "agg_hll_sketch",
    """
    SELECT n_regionkey, COUNT(DISTINCT c_custkey) AS ndv_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_regionkey
    """,
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: hll_sketch_agg per nation,
    hll_union_agg rolled up to region — the two-level pattern that
    makes NDV viable at 100 TB. Exact COUNT(DISTINCT) re-shuffles raw
    keys at every rollup level; sketches are built once at the fine
    grain (one shuffle of kilobyte-sized state) and merged upward
    without ever rescanning the fact table, which is also the
    cross-shard/cross-day story: persist per-partition sketches, union
    on demand.

    lgConfigK=14 keeps the DataSketches HLL in its exact sparse mode
    for the ~300-per-region fixture NDV at the sf0.01 gate (verified
    exact there; at sf0.1's ~3000 per region it goes dense and is
    approximate within ~1%, deterministic either way — fixed hash), so
    the oracle is the exact COUNT(DISTINCT) rollup."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    sketches = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey", F.lit(14)).alias("sk")
    )
    return (
        sketches.join(F.broadcast(nat), sketches.c_nationkey == nat.n_nationkey)
        .groupBy("n_regionkey")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("ndv_customers")
        )
    )


@query(
    "agg_incremental_rollup",
    """
    SELECT CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY month, event_type
    """,
)
def agg_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-aggregate maintenance: daily pre-aggregates rolled
    up to monthly finals — the materialized-view pattern behind the
    reference's `summary_statistics` table, generalized. The engine
    computes the DAILY layer first (what a production pipeline would
    persist per ingest day) and derives months by merging days; the
    oracle aggregates raw events directly, so the check proves the
    two-level maintenance path is lossless.

    Exactness: counts and integer cents are associative — any
    partial/merge order gives identical results, which is what makes
    the incremental path safe at all (float sums would not be). Scale:
    the daily layer shrinks 100 TB of events to |days|×|types| rows;
    month-end re-aggregation touches only that layer, never the raw
    facts — same story as the HLL sketch rollup for NDV."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )
    return daily.groupBy(
        F.trunc("day", "month").alias("month"), "event_type"
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )


@query(
    "agg_argminmax",
    """
    SELECT s_nationkey,
           max_by(s_name, s_acctbal) AS richest,
           min_by(s_name, s_acctbal) AS poorest,
           CAST(count_if(s_acctbal < 0) AS BIGINT) AS n_negative
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-min/arg-max aggregation (max_by/min_by) plus count_if —
    the modern aggregate trio both engines ship natively; one
    partial-aggregated pass, no window, no self-join (the pre-max_by
    formulation is the groupBy-max + equality-rejoin of golden_q15).

    max_by on a tied measure is NONDETERMINISTIC in both engines;
    s_acctbal has no intra-nation max/min ties at any fixture scale
    (verified sf0.001/0.01/0.1), which is what makes this
    exact-oracle-able. On tied data, make the measure unique first
    (struct of measure + PK) or fall back to the window formulation.
    """
    return (
        load(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.max_by("s_name", "s_acctbal").alias("richest"),
            F.min_by("s_name", "s_acctbal").alias("poorest"),
            F.count_if(F.col("s_acctbal") < 0).cast("bigint").alias("n_negative"),
        )
    )


@query(
    "agg_bitmap_ndv",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv_users
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct count via bitmaps — the pattern between
    raw COUNT(DISTINCT) (exact, but re-shuffles raw keys at every
    rollup) and HLL sketches (mergeable, but approximate): integer
    keys become (bucket, bit-position) pairs, each (group, bucket)
    aggregates to a fixed 4 KB bitmap, rollups OR bitmaps together and
    sum popcounts. Exactness of COUNT(DISTINCT) with the mergeability
    of a sketch — per-group state is |key-space|/32768 bitmaps, the
    right trade wherever keys are dense integers (user ids, block
    heights).

    Two partial-aggregated shuffles, both on bounded keys: (type,
    bucket) then type; the bitmap build and popcount are JVM-side
    `bitmap_construct_agg`/`bitmap_count`. Oracle = plain exact
    COUNT(DISTINCT) — they must agree bit-for-bit, which is the whole
    claim."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bkt"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).cast("bigint").alias("ndv_users"))
    )


@query(
    "agg_regr_trend",
    """
    SELECT event_type,
           CAST(FLOOR(regr_slope(value, epoch_h) * 10000) AS BIGINT) AS slope_e4,
           CAST(FLOOR(regr_intercept(value, epoch_h) * 10000) AS BIGINT)
               AS intercept_e4,
           CAST(FLOOR(regr_r2(value, epoch_h) * 10000) AS BIGINT) AS r2_e4,
           CAST(regr_count(value, epoch_h) AS BIGINT) AS n
    FROM (
        SELECT event_type, value,
               CAST(epoch_us(ts) // 3600000000 AS DOUBLE) AS epoch_h
        FROM events
    )
    GROUP BY event_type
    """,
)
def agg_regr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear trend via the SQL regression aggregates:
    value regressed on event time (hours since epoch) per event type —
    drift/trend detection as ONE partial-aggregatable pass, where the
    naive formulation (center, multiply, re-aggregate) takes three.

    regr_* carry (n, Σx, Σy, Σxx, Σxy, Σyy) as mergeable state, so
    the same query rolls up across shards/days without rescans — the
    sketch-style scaling story, but exact. The x value is integral
    hours cast to double (exactly representable); outputs use the
    FLOOR-e4 integer encoding (floor(x·10⁴) as BIGINT) rather than
    ROUND(...,4) — ROUND's half-tie rule differs between engines and
    flips the hash on exact .5 boundaries, while FLOOR is
    tie-rule-free (the ts_interpolate_linear discipline)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3600000000))
        .cast("long")
        .cast("double")
        .alias("epoch_h"),
    )
    return ev.groupBy("event_type").agg(
        F.floor(F.regr_slope("value", "epoch_h") * 10000)
        .cast("bigint")
        .alias("slope_e4"),
        F.floor(F.regr_intercept("value", "epoch_h") * 10000)
        .cast("bigint")
        .alias("intercept_e4"),
        F.floor(F.regr_r2("value", "epoch_h") * 10000).cast("bigint").alias("r2_e4"),
        F.regr_count("value", "epoch_h").cast("bigint").alias("n"),
    )


@query(
    "agg_higher_moments",
    """
    SELECT l_returnflag,
           CAST(FLOOR(skewness(l_quantity) * (COUNT(*) - 2)
                      / sqrt(COUNT(*) * (COUNT(*) - 1.0)) * 10000) AS BIGINT)
               AS skew_e4,
           CAST(FLOOR(kurtosis_pop(l_quantity) * 10000) AS BIGINT) AS kurt_e4,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third/fourth-moment distribution shape per group (skewness +
    excess kurtosis) — the quality-profiling statistics that flag a
    drifted or corrupted numeric column before it poisons training
    (the moment analog of text_quality's rule-based gates).

    Like all moment aggregates these are single-pass and map-side
    combinable (running (n, Σx, Σx², Σx³, Σx⁴) state). Outputs use the
    FLOOR-e4 integer encoding (no cross-engine half-tie hazard, unlike
    ROUND). DEFINITION parity, not just float parity: Spark's
    skewness/kurtosis are POPULATION statistics (g1, g2) while
    DuckDB's same-named functions are bias-corrected SAMPLE statistics
    (G1, G2) — they differ at the 5th decimal even at n≈2000 and only
    floor-matched at sf0.01 by luck (caught by the sf0.001 parity
    suite). The oracle therefore uses kurtosis_pop and de-corrects
    skewness via g1 = G1·(n−2)/√(n(n−1)), after which both engines
    agree to ~1e-12 relative."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.floor(F.skewness("l_quantity") * 10000)
            .cast("bigint")
            .alias("skew_e4"),
            F.floor(F.kurtosis("l_quantity") * 10000)
            .cast("bigint")
            .alias("kurt_e4"),
            F.count("*").cast("bigint").alias("n"),
        )
    )


@query(
    "agg_entropy",
    """
    WITH counts AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE user_id < 100
        GROUP BY user_id, event_type
    ), packed AS (
        SELECT user_id,
               list_sort(list(n)) AS ns,
               CAST(SUM(n) AS BIGINT) AS total
        FROM counts GROUP BY user_id
    )
    SELECT user_id,
           ROUND(-list_reduce(list_transform(ns,
                     n -> (CAST(n AS DOUBLE) / total)
                          * ln(CAST(n AS DOUBLE) / total)),
                 (a, b) -> a + b), 4) AS entropy_nats,
           CAST(len(ns) AS INT) AS n_types
    FROM packed
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity / data-quality profile (a bot hammering one
    endpoint scores ≈0; organic traffic sits near ln(5)).

    Float-determinism pattern worth naming: a plain SUM over the
    p·ln(p) terms leaves accumulation order to the engine (and ties in
    the last ulp flip rounded output); instead the per-type counts are
    SORTED into an array and folded LEFT-TO-RIGHT — both engines then
    execute bit-identical IEEE64 op sequences, so ROUND 4 is safe.
    The fold runs over ≤|event types| elements per group (bounded),
    after an ordinary two-level partial-aggregated count."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    packed = counts.groupBy("user_id").agg(
        F.array_sort(F.collect_list("n")).alias("ns"),
        F.sum("n").cast("bigint").alias("total"),
    )
    p = lambda n: n.cast("double") / F.col("total")  # noqa: E731
    return packed.select(
        "user_id",
        F.round(
            -F.aggregate(
                F.transform(F.col("ns"), lambda n: p(n) * F.log(p(n))),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            4,
        ).alias("entropy_nats"),
        F.size("ns").alias("n_types"),
    )


@query(
    "agg_string_agg",
    """
    SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY c_custkey) AS names,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM customer
    WHERE c_custkey % 40 = 0
    GROUP BY c_mktsegment
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG/STRING_AGG per group — the report/export shape
    ("all member names, comma-joined, in key order"). Spark has no
    ordered listagg aggregate, so the deterministic composition is
    collect_list of (key, value) structs → array_sort (structs sort
    field-by-field; c_custkey is unique so the order is total) →
    transform to the value → concat_ws. One partial-aggregated
    exchange, same as any groupBy.

    Scale note: an ordered string agg is inherently group-sized —
    the aggregation buffer AND the output cell grow with the group,
    so the operator is only sane after a selective filter (here
    every-40th customer) or on bounded groups; at 100 TB the
    unbounded-group variant is a design smell, not an engineering
    problem — cap or pre-bucket first."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 40 == 0)
    return cust.groupBy("c_mktsegment").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("c_custkey", "c_name"))),
                lambda s: s.c_name,
            ),
        ).alias("names"),
        F.count("*").cast("bigint").alias("n_members"),
    )


@query(
    "agg_corr_exact",
    """
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
               CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                        * CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sxx,
               CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)
                        * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                        * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(FLOOR(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               * 1000000) AS BIGINT) AS corr_e6
    FROM s
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation with DETERMINISTIC parallel aggregation:
    the naive corr() accumulates floating covariance in partition
    order (parallel sums of doubles are order-dependent, so two runs
    — or two engines — can differ in the last ulps). Here both
    variables are floored to integer units first, the five sufficient
    statistics (Σx Σy Σx² Σy² Σxy) are summed as bigints — exact and
    associative, any partial/merge order identical — and the corr
    formula is then ONE double-arithmetic expression over those exact
    integers, bit-identical on both engines. The one-pass
    five-statistic shape is also the scale story: a single
    partial-aggregated exchange per group, no second scan, no
    centering pass."""
    li = load(spark, sf_dir, "lineitem")
    x = F.floor("l_quantity")
    y = F.floor("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = (d("n") * d("sxy") - d("sx") * d("sy")) / F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    return s.select(
        "l_returnflag", "n", F.floor(r * 1000000).cast("bigint").alias("corr_e6")
    )


@query(
    "agg_count_if_distinct",
    """
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE value > 100) AS BIGINT) AS n_big,
           CAST(COUNT(DISTINCT CASE WHEN value > 100 THEN user_id END)
                AS BIGINT) AS users_big,
           CAST(COUNT(DISTINCT CASE WHEN value <= 100 THEN user_id END)
                AS BIGINT) AS users_small
    FROM events GROUP BY event_type
    """,
)
def agg_count_if_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counting surface: count_if plus DISTINCT counts
    restricted by a predicate (count_distinct over a CASE that maps
    non-qualifying rows to NULL — nulls are ignored by count). The
    pattern matters at scale because multiple conditional distincts in
    one SELECT expand the plan (Spark rewrites them to expand + two
    aggregations); keeping them in a single groupBy lets the rewrite
    share the one exchange instead of scanning per-metric."""
    ev = load(spark, sf_dir, "events")
    big = F.col("value") > 100
    return ev.groupBy("event_type").agg(
        F.count_if(big).cast("bigint").alias("n_big"),
        F.count_distinct(F.when(big, F.col("user_id")))
        .cast("bigint")
        .alias("users_big"),
        F.count_distinct(F.when(~big, F.col("user_id")))
        .cast("bigint")
        .alias("users_small"),
    )


@query(
    "agg_decimal_exact",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 10000 AS BIGINT)
               AS total_e4,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) * 10000 AS BIGINT)
               AS max_e4
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact money aggregation in the DECIMAL domain (round 5).

    Doubles accumulate in partition order and drift in the last ulps
    at 100 TB row counts; casting to DECIMAL(12,2) FIRST makes every
    partial sum an exact scaled integer — Spark promotes the sum to
    DECIMAL(22,2) (10 extra digits of headroom) and merges partials
    associatively, so ANY partition order and ANY merge tree produce
    the identical result, no floor/round discipline needed. The output
    is scaled to e4 bigints only to cross the driver's hash compare;
    the arithmetic itself never leaves the exact domain. The cast
    double→DECIMAL(12,2) is unambiguous round-to-nearest (fixture
    prices carry 2 decimals, so the stored double is within 1e-10 of
    the true value — never a tie). This is the ledger-grade twin of
    the ROUND(x*100)-to-bigint pattern used elsewhere; DECIMAL keeps
    exactness through division and scale changes where bigint cents
    would truncate."""
    orders = load(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        (F.sum(dec) * 10000).cast("bigint").alias("total_e4"),
        (F.max(dec) * 10000).cast("bigint").alias("max_e4"),
    )


@query(
    "agg_itemset_pairs",
    """
    WITH basket AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    )
    SELECT brand_a, brand_b, CAST(COUNT(*) AS BIGINT) AS support
    FROM pairs GROUP BY brand_a, brand_b
    ORDER BY support DESC, brand_a, brand_b
    LIMIT 20
    """,
)
def agg_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 2-itemset mining / market-basket support (round 5):
    brand pairs bought together within one order, counted across
    orders — the association-rule readout (the top pair IS the first
    rule candidate; confidence/lift divide by the single-item counts
    the same table yields). The scale discipline is the basket-local
    pair expansion: the self-join is keyed on the ORDER, so fan-out is
    Σ basket_size² (baskets are ≤7 lines here, ≤k in any real cart),
    never catalog² — the same bounded-bucket principle as dedup_near's
    band caps. The item dimension joins into the basket build (AQE broadcasts
    while it fits — part SCALES, so no hint-pin);
    one order-key shuffle + one pair-count aggregation, both
    map-side-combinable; top-20 is a TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = basket.alias("a")
    b = basket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count("*").cast("bigint").alias("support"))
        .orderBy(F.col("support").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@query(
    "agg_hll_window_rollup",
    """
    WITH hours AS (
        SELECT DISTINCT date_trunc('hour', ts) AS hour_ts FROM events
    )
    SELECT h.hour_ts,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS ndv_users_3h
    FROM hours h
    JOIN events e
      ON date_trunc('hour', e.ts)
         BETWEEN h.hour_ts - INTERVAL 2 HOUR AND h.hour_ts
    GROUP BY h.hour_ts
    """,
)
def agg_hll_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct counts from MERGEABLE sketches (round
    5): users active in each trailing 3-hour window, answered by
    unioning per-hour HLL sketches — events are sketched ONCE per
    hour, and every window readout merges |window| sketches instead of
    rescanning raw events. This is the load-bearing property of
    sketch-based rollups at 100 TB: the expensive pass is a single
    partial-aggregatable scan producing |hours| kilobyte-sized
    sketches, after which ANY window (3 h, 24 h, 7 d) is a merge over
    the tiny sketch table — exact COUNT(DISTINCT) would re-shuffle the
    raw events per window length. The window alignment is TIME-based
    (hour BETWEEN h-2 AND h via a range join on the sketch table, not
    a ROWS frame that silently spans gaps in sparse hours).

    The oracle is the exact distinct count: at fixture NDV the lgK=14
    sketches are in exact sparse mode (the agg_hll_sketch precedent),
    so estimate ≡ exact and the row hash-matches; at production NDV
    the same plan returns ±2% estimates — the documented trade."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts")).agg(
        # lgK=14 like agg_hll_sketch: ~10x sparse-mode headroom over
        # the fixture window NDV (411 at sf0.1) — the default lgK=12
        # sits within 2.5x of dense promotion (round-5 review find)
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    h = hourly.select(F.col("hour_ts").alias("win_end"))
    member = hourly.alias("m")
    joined = h.join(
        F.broadcast(member),
        (F.col("m.hour_ts") >= F.col("win_end") - F.expr("INTERVAL 2 HOUR"))
        & (F.col("m.hour_ts") <= F.col("win_end")),
    )
    return joined.groupBy(F.col("win_end").alias("hour_ts")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("bigint")
        .alias("ndv_users_3h")
    )


@query(
    "agg_percentile_disc",
    """
    SELECT event_type,
           CAST(quantile_disc(CAST(ROUND(value * 100) AS BIGINT), 0.5)
                AS BIGINT) AS med_cents_disc,
           CAST(quantile_disc(CAST(ROUND(value * 100) AS BIGINT), 0.9)
                AS BIGINT) AS p90_cents_disc
    FROM events GROUP BY event_type
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (round 5) — PERCENTILE_DISC semantics:
    the quantile is an ACTUAL element of the group (the smallest value
    whose cumulative share reaches p), never an interpolated midpoint.
    The distinction matters whenever the value domain is integral or
    categorical-ordinal (latencies in whole ms, cents, severity
    levels): agg_percentile's continuous interpolation can return a
    price nobody ever paid; disc cannot. Computed in the exact integer
    domain end-to-end — no float enters at all, so the parity needs no
    rounding discipline. Same scale shape as agg_percentile: exact
    per-group sort is bounded by group cardinality; the 100 TB default
    is the approx_percentile sketch with disc reserved for bounded
    keys/reconciliation."""
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return ev.select("event_type", cents.alias("cents")).groupBy(
        "event_type"
    ).agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("med_cents_disc"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("p90_cents_disc"),
    )


@query(
    "agg_weighted_median",
    """
    WITH vals AS (
        SELECT l_returnflag AS flag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS w
        FROM lineitem
        GROUP BY l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT)
    ), cum AS (
        SELECT flag, cents, w,
               SUM(w) OVER (PARTITION BY flag ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS tw
        FROM vals
    )
    SELECT flag AS l_returnflag,
           CAST(MIN(cents) AS BIGINT) AS weighted_median_cents,
           CAST(MAX(tw) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cw >= tw GROUP BY flag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median (round 5): the quantity-weighted median price
    per return flag — the smallest value whose cumulative WEIGHT
    reaches half the group's total. Plain percentiles treat a
    10,000-unit line and a 1-unit line as equal observations; every
    volume-weighted readout (VWAP-style pricing, token-weighted doc
    stats, the mixture weights text_mixture_sample consumes) needs
    this form, and neither engine ships it built-in — it composes from
    the cumulative-weight definition directly.

    Scale shape: aggregate to DISTINCT (group, value) first — the
    running-weight window then runs over value cardinality, not row
    count, and both windows share one group-hash exchange. Everything
    stays in exact bigint cents/units: the half-total comparison is
    `2*cum >= total`, no division, no float."""
    li = load(spark, sf_dir, "lineitem")
    vals = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    ).agg(F.sum(F.floor("l_quantity").cast("bigint")).cast("bigint").alias("w"))
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("flag")
    cum = vals.select(
        "flag",
        "cents",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            F.min("cents").cast("bigint").alias("weighted_median_cents"),
            F.max("tw").cast("bigint").alias("total_weight"),
        )
    )


@query(
    "agg_gini_concentration",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS i
        FROM spend
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               CAST(SUM(CAST(i AS HUGEINT) * cents) AS DECIMAL(38, 0))
                   AS rank_weighted
        FROM ranked
    )
    SELECT n_customers, total_cents,
           CAST(FLOOR((2.0 * CAST(rank_weighted AS DOUBLE)
                       / (CAST(n_customers AS DOUBLE) * total_cents)
                       - (n_customers + 1.0) / n_customers) * 1000000)
                AS BIGINT) AS gini_e6
    FROM s
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend (round 5) — the
    concentration readout profile_skew's top-10 list can't give: ONE
    number for how unequal the whole distribution is (0 = uniform,
    →1 = one customer is the business), the standard
    revenue-concentration / whale-risk metric. Computed from the
    rank-weighted identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over the
    ascending-sorted per-customer totals; ties pin on (cents,
    custkey) so the rank weighting is bit-identical in both engines,
    and every accumulation is an exact bigint — the double enters in
    ONE final shared expression.

    The global rank is a single-partition window over the
    per-customer AGGREGATE (|customers|, not |orders|) — the
    documented local form; at 100 TB the same rank comes from the
    two-pass distributed prefix rank events_concurrency_sweep
    demonstrates (per-bucket counts → exclusive prefix offsets)."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = spend.select("cents", F.row_number().over(w).alias("i"))
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        # decimal(38,0) accumulation (round 12): Σ(i·cents) overflows
        # int64 at sf10 customer counts (caught by the sf10 stratified
        # census, ARITHMETIC_OVERFLOW under ANSI); decimal sums are
        # exact and order-free in both engines, and the value re-enters
        # doubles only in the one final shared expression
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("rank_weighted"),
    )
    n = F.col("n_customers").cast("double")
    gini = (
        2.0 * F.col("rank_weighted").cast("double")
        / (n * F.col("total_cents"))
        - (n + 1.0) / n
    )
    return s.select(
        "n_customers",
        "total_cents",
        F.floor(gini * 1000000).cast("bigint").alias("gini_e6"),
    )


@query(
    "agg_lorenz_deciles",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ), tiled AS (
        SELECT cents,
               ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
        FROM spend
    ), tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM tiled)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS decile_cents,
           CAST(FLOOR(SUM(cents) * 10000.0 / t) AS BIGINT) AS share_e4
    FROM tiled CROSS JOIN tot
    GROUP BY decile, t
    """,
)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve deciles (round 5) — the distribution curve BEHIND
    agg_gini_concentration's single number: customers ranked by spend,
    cut into ten equal-count buckets, each bucket's share of total
    revenue. "The top decile carries X% of revenue" is the
    concentration statement executives and risk models actually
    consume; the Gini is this curve's integral. Tie order pins on
    (cents, custkey) so bucket assignment is bit-reproducible; shares
    floor-e4 over exact bigint sums with the total riding along via a
    1-row cross join (never a driver collect).

    Same local/global split as histogram_equidepth: the NTILE runs
    over the per-customer AGGREGATE (|customers| rows), and the
    distributed form at 100 TB is quantile-sketch boundaries + one
    bucketing pass."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    tiled = spend.select("cents", F.ntile(10).over(w).alias("decile"))
    tot = tiled.agg(F.sum("cents").cast("bigint").alias("t"))
    return (
        tiled.crossJoin(F.broadcast(tot))
        .groupBy("decile", "t")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("decile_cents"),
        )
        .select(
            "decile",
            "n_customers",
            "decile_cents",
            F.floor(F.col("decile_cents") * 10000.0 / F.col("t"))
            .cast("bigint")
            .alias("share_e4"),
        )
    )


@query(
    "agg_ks_two_sample",
    """
    WITH s AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS ca,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS cb
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ), c AS (
        SELECT v_e4,
               CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
               CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
               CAST(SUM(ca) OVER () AS BIGINT) AS n_a,
               CAST(SUM(cb) OVER () AS BIGINT) AS n_b
        FROM s
        WINDOW w AS (ORDER BY v_e4
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(MAX(ABS(n_b * cum_a - n_a * cum_b)) AS BIGINT) AS d_num,
           CAST(FLOOR(CAST(MAX(ABS(n_b * cum_a - n_a * cum_b)) AS DOUBLE)
                      / (CAST(MAX(n_a) AS DOUBLE) * CAST(MAX(n_b) AS DOUBLE))
                      * 1000000) AS BIGINT) AS d_e6
    FROM c
    """,
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic (round 5 batch 6):
    the largest gap between the empirical CDFs of 'click' and
    'purchase' event values — the standard drift test a data-quality
    gate runs between yesterday's and today's feature distribution
    before a training run is allowed to consume it.

    Exactness is the design: D = max|F_a(x) − F_b(x)| is evaluated in
    PURE INTEGER arithmetic as max|n_b·cumA(x) − n_a·cumB(x)| over the
    per-distinct-value cumulative counts (cross-multiplying denominators
    away), so the statistic is bit-reproducible under any partition
    order; the single double division happens ONCE on the final scalar.
    Tie-safety falls out of aggregating to distinct v_e4 FIRST — the
    CDF is evaluated only at atom boundaries, where it is well defined.

    Scale: the value-level table is |distinct values|-sized (the same
    reduction histogram_equidepth leans on), so the unpartitioned
    cumulative window runs over a bounded atom table, not raw rows; at
    100 TB the distribution is pre-binned (equi-width e4 buckets are
    already the atoms here) and D over bins is the standard streaming
    approximation with error ≤ bin width."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.groupBy(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4")
    ).agg(
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("ca"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("cb"),
    )
    w = Window.orderBy("v_e4").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = s.select(
        F.sum("ca").over(w).cast("bigint").alias("cum_a"),
        F.sum("cb").over(w).cast("bigint").alias("cum_b"),
        F.sum("ca").over(wall).cast("bigint").alias("n_a"),
        F.sum("cb").over(wall).cast("bigint").alias("n_b"),
    )
    gap = F.abs(F.col("n_b") * F.col("cum_a") - F.col("n_a") * F.col("cum_b"))
    return c.agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        F.max(gap).cast("bigint").alias("d_num"),
        F.floor(
            F.max(gap).cast("double")
            / (F.max("n_a").cast("double") * F.max("n_b").cast("double"))
            * 1000000
        )
        .cast("bigint")
        .alias("d_e6"),
    )


@query(
    "agg_chi_square",
    """
    WITH obs AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT event_type, dow, o,
               CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rm,
               CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS cm,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM obs
    ), cells AS (
        SELECT event_type, dow, o,
               CAST(FLOOR(CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
                          / CAST(n AS DOUBLE) * 10000) AS BIGINT)
                   AS expected_e4,
               CAST(FLOOR(
                   (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE))
                   * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                      - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(rm AS DOUBLE)
                      * CAST(cm AS DOUBLE))
                   * 1000000) AS BIGINT) AS term_e6
        FROM m
    )
    SELECT event_type, dow, o, expected_e4, term_e6,
           CAST(SUM(term_e6) OVER () AS BIGINT) AS chi2_sum_e6
    FROM cells
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test over the event_type × day-of-week
    contingency table (round 5 batch 6) — "is behavior independent of
    weekday?", the categorical-drift analogue of agg_ks_two_sample.
    Emits every cell with its observed count, floor-e4 expectation,
    floor-e6 χ² contribution, and the grand χ² alongside so one scan
    serves both the verdict and the which-cell-drove-it diagnosis.

    Determinism: margins are exact bigint sums over the CELL table;
    each cell's (o·n − rm·cm)²/(n·rm·cm) is one double expression both
    engines evaluate identically, floored to e6 BEFORE the order-free
    bigint total. The numerator is differenced and squared in doubles
    deliberately — at 100 TB row counts (o·n − rm·cm)² overflows
    bigint, while the double path loses only last-ulp bits that the
    e6 floor absorbs everywhere except a measure-zero boundary.

    Scale: one map-side-combinable count agg to |types|×7 cells, then
    margin windows over that tiny table — nothing after the first agg
    touches row-scale data. Day-of-week parity: Spark dayofweek() is
    1=Sunday, DuckDB's is 0=Sunday; the Spark side subtracts 1."""
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("bigint").alias("dow")
    ).agg(F.count("*").cast("bigint").alias("o"))
    m = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast("bigint").alias("rm"),
        F.sum("o").over(Window.partitionBy("dow")).cast("bigint").alias("cm"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    diff = d("o") * d("n") - d("rm") * d("cm")
    cells = m.select(
        "event_type",
        "dow",
        "o",
        F.floor(d("rm") * d("cm") / d("n") * 10000)
        .cast("bigint")
        .alias("expected_e4"),
        F.floor(diff * diff / (d("n") * d("rm") * d("cm")) * 1000000)
        .cast("bigint")
        .alias("term_e6"),
    )
    return cells.withColumn(
        "chi2_sum_e6",
        F.sum("term_e6").over(Window.partitionBy()).cast("bigint"),
    )


@query(
    "agg_t_test_welch",
    """
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS sx,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)
                        * CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS sxx
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    ), w AS (
        SELECT MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
               MAX(CASE WHEN event_type = 'click' THEN sx END) AS s1,
               MAX(CASE WHEN event_type = 'click' THEN sxx END) AS ss1,
               MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
               MAX(CASE WHEN event_type = 'purchase' THEN sx END) AS s2,
               MAX(CASE WHEN event_type = 'purchase' THEN sxx END) AS ss2
        FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(FLOOR((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2))
                AS BIGINT) AS mean_diff_e4,
           CAST(FLOOR(
               (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
               / sqrt(((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                        * CAST(s1 AS DOUBLE) / n1) / (n1 - 1)) / n1
                      + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                          * CAST(s2 AS DOUBLE) / n2) / (n2 - 1)) / n2)
               * 10000) AS BIGINT) AS t_e4
    FROM w
    """,
)
def agg_t_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic (round 5 batch 6): mean
    difference between 'click' and 'purchase' event values scaled by
    the unequal-variance standard error — the parametric sibling of
    agg_ks_two_sample (KS asks "same distribution?", Welch asks "same
    mean?", and is the default A/B-test readout).

    Same exactness layering as the KS test: per-group (n, Σx, Σx²)
    are exact bigint sums of floor-e4 encodings — associative,
    merge-order-free — and mean/variance/t evaluate in ONE double
    expression per output cell. Welch (not Student) because the two
    event classes have no reason to share a variance; the
    denominator is s₁²/n₁ + s₂²/n₂ with sample variances.

    Scale: one map-side-combinable agg to two rows, then a 1-row
    pivot — nothing after the first agg touches row-scale data; the
    sufficient statistics are the mergeable per-shard state an
    incremental A/B dashboard persists."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    v = F.floor(F.col("value") * 10000).cast("bigint")
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(v).cast("bigint").alias("sx"),
        F.sum(v * v).cast("bigint").alias("sxx"),
    )
    pick = lambda t, c: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, F.col(c))
    )
    w = s.agg(
        pick("click", "n").alias("n1"),
        pick("click", "sx").alias("s1"),
        pick("click", "sxx").alias("ss1"),
        pick("purchase", "n").alias("n2"),
        pick("purchase", "sx").alias("s2"),
        pick("purchase", "sxx").alias("ss2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mdiff = d("s1") / F.col("n1") - d("s2") / F.col("n2")
    var1 = (d("ss1") - d("s1") * d("s1") / F.col("n1")) / (F.col("n1") - 1)
    var2 = (d("ss2") - d("s2") * d("s2") / F.col("n2")) / (F.col("n2") - 1)
    se = F.sqrt(var1 / F.col("n1") + var2 / F.col("n2"))
    return w.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.floor(mdiff).cast("bigint").alias("mean_diff_e4"),
        F.floor(mdiff / se * 10000).cast("bigint").alias("t_e4"),
    )


@query(
    "agg_mann_whitney",
    """
    WITH s AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS c2
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ), r AS (
        SELECT c1, c2,
               CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prev,
               CAST(SUM(c1) OVER () AS BIGINT) AS n1,
               CAST(SUM(c2) OVER () AS BIGINT) AS n2
        FROM s
    )
    SELECT MAX(n1) AS n1, MAX(n2) AS n2,
           CAST(2 * MAX(n1) * MAX(n2) + MAX(n1) * (MAX(n1) + 1)
                - SUM(c1 * (2 * prev + c1 + c2 + 1)) AS BIGINT) AS u1_x2,
           CAST(2 * MAX(n1) * MAX(n2)
                - (2 * MAX(n1) * MAX(n2) + MAX(n1) * (MAX(n1) + 1)
                   - SUM(c1 * (2 * prev + c1 + c2 + 1))) AS BIGINT) AS u2_x2,
           CAST(FLOOR(
               (CAST(2 * MAX(n1) * MAX(n2) + MAX(n1) * (MAX(n1) + 1)
                     - SUM(c1 * (2 * prev + c1 + c2 + 1)) AS DOUBLE) / 2.0
                - CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE) / 2.0)
               / sqrt(CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE)
                      * (CAST(MAX(n1) AS DOUBLE) + CAST(MAX(n2) AS DOUBLE)
                         + 1.0) / 12.0)
               * 10000) AS BIGINT) AS z_e4
    FROM r
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (round 5 batch 6): the
    NONPARAMETRIC "is one group stochastically larger?" — robust to
    the heavy tails and outliers that inflate Welch's variance, and
    the right test when values are ordinal rather than interval.

    The tie-handling trick keeps it EXACT: values aggregate to
    distinct atoms first; a tie block of c=c1+c2 equal values
    occupying ranks prev+1..prev+c gets average rank prev+(c+1)/2 —
    a half-integer, so the whole computation runs in DOUBLED units
    (rank×2 = 2·prev+c+1 is always integral) and U₁×2, U₂×2 are
    exact bigints under any partition order. The normal-approximation
    z enters as one final double formula (tie-corrected σ documented
    as the follow-on; at these tie densities the correction is <1e-3
    relative). U₁×2 + U₂×2 = 2·n₁·n₂ by construction — the built-in
    self-check the referee test asserts.

    Scale: same atom-table reduction as the KS test — the cumulative
    window runs over |distinct values|, never raw rows."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.groupBy(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4")
    ).agg(
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("c1"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("cb"),
    ).withColumnRenamed("cb", "c2")
    wprev = Window.orderBy("v_e4").rowsBetween(Window.unboundedPreceding, -1)
    r = s.select(
        "c1",
        "c2",
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wprev), F.lit(0))
        .cast("bigint")
        .alias("prev"),
    )
    rank2 = 2 * F.col("prev") + F.col("c1") + F.col("c2") + 1
    # n1/n2 as plain aggregates (not OVER () windows): keeps the one
    # ordered pass the ONLY single-partition stage, and its input is
    # the pre-reduced atom table — the audit's benign shape (r7).
    agg = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * rank2).alias("r1_x2"),
    )
    u1_x2 = (
        2 * F.col("n1") * F.col("n2")
        + F.col("n1") * (F.col("n1") + 1)
        - F.col("r1_x2")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    z = (u1_x2.cast("double") / 2.0 - d("n1") * d("n2") / 2.0) / F.sqrt(
        d("n1") * d("n2") * (d("n1") + d("n2") + 1.0) / 12.0
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        u1_x2.cast("bigint").alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - u1_x2).cast("bigint").alias("u2_x2"),
        F.floor(z * 10000).cast("bigint").alias("z_e4"),
    )


@query(
    "agg_kl_divergence",
    """
    WITH binned AS (
        SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bucket,
               CAST(COUNT(*) FILTER (dayofweek(ts) IN (0, 6)) AS BIGINT)
                   AS c_wend,
               CAST(COUNT(*) FILTER (dayofweek(ts) NOT IN (0, 6)) AS BIGINT)
                   AS c_wday
        FROM events GROUP BY 1
    ), tot AS (
        SELECT bucket, c_wday, c_wend,
               CAST(SUM(c_wday) OVER () AS BIGINT) AS n_wday,
               CAST(SUM(c_wend) OVER () AS BIGINT) AS n_wend,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_buckets
        FROM binned
    ), terms AS (
        SELECT bucket, c_wday, c_wend,
               CAST(FLOOR(
                   (CAST(c_wday + 1 AS DOUBLE) / (n_wday + n_buckets))
                   * ln((CAST(c_wday + 1 AS DOUBLE) / (n_wday + n_buckets))
                        / (CAST(c_wend + 1 AS DOUBLE)
                           / (n_wend + n_buckets)))
                   * 1000000000) AS BIGINT) AS term_e9
        FROM tot
    )
    SELECT bucket, c_wday, c_wend, term_e9,
           CAST(SUM(term_e9) OVER () AS BIGINT) AS kl_sum_e9
    FROM terms
    """,
)
def agg_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence between the weekday and weekend value
    distributions (round 5 batch 8): D(P_weekday ‖ Q_weekend) over
    equal-width value buckets with add-1 smoothing — the
    distribution-drift NUMBER (in nats) that complements
    agg_ks_two_sample's max-gap statistic: KS localizes the worst
    point, KL integrates the whole mismatch and is what mixture
    rebalancing and monitoring alarms threshold on.

    Per-bucket discipline mirrors agg_chi_square: counts and margins
    are exact bigints over the BUCKET table; each bucket's
    p·ln(p/q) evaluates in one double expression both engines run
    identically, floored to e9 BEFORE the order-free bigint total
    (terms are ±1e-3-scale, so e9 keeps 6 significant digits).
    Smoothing keeps q>0 on buckets the weekend never hit. Day-of-week
    parity pinned as in agg_chi_square (Spark −1 shift).

    Scale: one map-side-combinable conditional-count agg to ≤34
    buckets; everything after runs on the bucket table."""
    ev = load(spark, sf_dir, "events")
    dow = F.dayofweek("ts") - 1
    is_wend = dow.isin(0, 6)
    binned = ev.groupBy(
        F.floor(F.col("value") / 10).cast("bigint").alias("bucket")
    ).agg(
        F.count_if(is_wend).cast("bigint").alias("c_wend"),
        F.count_if(~is_wend).cast("bigint").alias("c_wday"),
    )
    wall = Window.partitionBy()
    tot = binned.select(
        "bucket",
        "c_wday",
        "c_wend",
        F.sum("c_wday").over(wall).cast("bigint").alias("n_wday"),
        F.sum("c_wend").over(wall).cast("bigint").alias("n_wend"),
        F.count("*").over(wall).cast("bigint").alias("n_buckets"),
    )
    p = (F.col("c_wday") + 1).cast("double") / (
        F.col("n_wday") + F.col("n_buckets")
    )
    q = (F.col("c_wend") + 1).cast("double") / (
        F.col("n_wend") + F.col("n_buckets")
    )
    terms = tot.select(
        "bucket",
        "c_wday",
        "c_wend",
        F.floor(p * F.log(p / q) * 1000000000)
        .cast("bigint")
        .alias("term_e9"),
    )
    return terms.withColumn(
        "kl_sum_e9", F.sum("term_e9").over(wall).cast("bigint")
    )


@query(
    "agg_benford_profile",
    """
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT digit, o, CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM digits
    ), terms AS (
        SELECT digit, o,
               CAST(FLOOR(ln(1.0 + 1.0 / digit) / ln(10.0) * 1000000)
                    AS BIGINT) AS benford_e6,
               CAST(FLOOR(
                   (CAST(o AS DOUBLE)
                    - CAST(n AS DOUBLE) * (ln(1.0 + 1.0 / digit) / ln(10.0)))
                   * (CAST(o AS DOUBLE)
                      - CAST(n AS DOUBLE) * (ln(1.0 + 1.0 / digit) / ln(10.0)))
                   / (CAST(n AS DOUBLE) * (ln(1.0 + 1.0 / digit) / ln(10.0)))
                   * 1000000) AS BIGINT) AS dev_e6
        FROM tot
    )
    SELECT digit, o, benford_e6, dev_e6,
           CAST(SUM(dev_e6) OVER () AS BIGINT) AS chi2_sum_e6
    FROM terms
    """,
)
def agg_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (round 5 batch 9):
    naturally-occurring amounts follow P(d) = log₁₀(1+1/d); fabricated
    or systematically-generated ones don't — the classic
    fraud/synthetic-data screen auditors run before trusting a ledger,
    and a data-quality gate before training on transaction-like
    columns. Emits each digit's observed count, the Benford
    expectation (e6), its χ²-style deviation term, and the grand
    deviation total in one scan.

    The first digit comes from STRING truncation of the exact integer
    cents — deliberately not floor(x/10^floor(log10 x)), whose libm
    log10 differs in the last ulp across engines and flips boundary
    values (the agg_histogram_log2 lesson, same family). Counts and
    margins are bigint; each digit's expectation and deviation
    evaluate in one double expression floored BEFORE the order-free
    total. Nine-row key space; one map-side-combinable agg."""
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digits = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.substring(cents.cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    wall = Window.partitionBy()
    tot = digits.withColumn(
        "n", F.sum("o").over(wall).cast("bigint")
    )
    p = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    dev = (F.col("o").cast("double") - F.col("n").cast("double") * p)
    terms = tot.select(
        "digit",
        "o",
        F.floor(p * 1000000).cast("bigint").alias("benford_e6"),
        F.floor(dev * dev / (F.col("n").cast("double") * p) * 1000000)
        .cast("bigint")
        .alias("dev_e6"),
    )
    return terms.withColumn(
        "chi2_sum_e6", F.sum("dev_e6").over(wall).cast("bigint")
    )


@query(
    "agg_cramers_v",
    """
    WITH obs AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT event_type, dow, o,
               CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rm,
               CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS cm,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM obs
    ), terms AS (
        SELECT n,
               CAST(FLOOR(
                   (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE))
                   * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                      - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(rm AS DOUBLE)
                      * CAST(cm AS DOUBLE))
                   * 1000000) AS BIGINT) AS term_e6
        FROM m
    ), agg AS (
        SELECT MAX(n) AS n,
               CAST(SUM(term_e6) AS BIGINT) AS chi2_e6,
               (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)
                FROM obs) AS r,
               (SELECT CAST(COUNT(DISTINCT dow) AS BIGINT) FROM obs) AS c
        FROM terms
    )
    SELECT n, r, c, chi2_e6,
           CAST(FLOOR(sqrt((CAST(chi2_e6 AS DOUBLE) / 1000000)
                           / (CAST(n AS DOUBLE)
                              * least(r - 1, c - 1)))
                      * 1000000) AS BIGINT) AS cramers_v_e6
    FROM agg
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size (round 5 batch 12): agg_chi_square tells
    you the event_type × weekday association is statistically
    nonzero; V = √(χ²/(n·min(r−1,c−1))) tells you whether it MATTERS
    — a 0-to-1 normalized strength comparable across tables of any
    size and shape, which is what feature selection and drift triage
    actually rank by (χ² alone grows with n; V doesn't).

    Built on the identical floored cell terms as agg_chi_square (the
    e6-integer χ² total is bit-shared between the two operators by
    construction), with dimensions counted from the SAME cell table
    and one final double formula. One count agg + tiny-table windows
    + a 1-row fold."""
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("bigint").alias("dow")
    ).agg(F.count("*").cast("bigint").alias("o"))
    m = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast("bigint").alias("rm"),
        F.sum("o").over(Window.partitionBy("dow")).cast("bigint").alias("cm"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    diff = d("o") * d("n") - d("rm") * d("cm")
    terms = m.select(
        "n",
        "event_type",
        "dow",
        F.floor(diff * diff / (d("n") * d("rm") * d("cm")) * 1000000)
        .cast("bigint")
        .alias("term_e6"),
    )
    agg = terms.agg(
        F.max("n").alias("n"),
        F.sum("term_e6").cast("bigint").alias("chi2_e6"),
        F.countDistinct("event_type").cast("bigint").alias("r"),
        F.countDistinct("dow").cast("bigint").alias("c"),
    )
    v = F.sqrt(
        (F.col("chi2_e6").cast("double") / 1000000)
        / (F.col("n").cast("double") * F.least(F.col("r") - 1, F.col("c") - 1))
    )
    return agg.select(
        "n",
        "r",
        "c",
        "chi2_e6",
        F.floor(v * 1000000).cast("bigint").alias("cramers_v_e6"),
    )


@query(
    "agg_winsorized_mean",
    """
    WITH atoms AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT event_type, v, c,
               CAST(COALESCE(SUM(c) OVER (PARTITION BY event_type
                    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS below,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM atoms
    ), bounds AS (
        SELECT event_type,
               MIN(CASE WHEN (below + c) * 20 >= n THEN v END) AS lo,
               MIN(CASE WHEN (below + c) * 20 >= 19 * n THEN v END) AS hi
        FROM ranked GROUP BY event_type
    )
    SELECT r.event_type, b.lo AS lo_e4, b.hi AS hi_e4,
           CAST(SUM(r.c) AS BIGINT) AS n,
           CAST(FLOOR(CAST(SUM(r.c * least(greatest(r.v, b.lo), b.hi))
                           AS DOUBLE) / SUM(r.c)) AS BIGINT)
               AS winsor_mean_e4
    FROM ranked r JOIN bounds b USING (event_type)
    GROUP BY r.event_type, b.lo, b.hi
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized mean per series (round 5 batch 13): clamp values
    to the [p5, p95] band, THEN average — the robust location estimate
    dashboards want when a mean must stay interpretable (a trimmed/
    winsorized mean moves ~20× less than the raw mean under a 1%
    outlier burst, while the median throws information away).
    Complements ts_outlier_mad: MAD FLAGS outliers, winsorizing
    BOUNDS their influence without dropping rows.

    The percentile bounds use agg_percentile_disc's discipline —
    discrete quantiles as actual domain atoms via the integer
    cross-multiplication (below+c)·20 ≥ n (no interpolation, no
    division) — and the clamped sum is exact bigint (clamping happens
    on atom VALUES, weighted by atom counts), with one floored
    division at the end.

    Scale: the atom table is |distinct values| per series; the two
    windows and the join-back all run on it, never on raw rows."""
    ev = load(spark, sf_dir, "events")
    atoms = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy("event_type")
    ranked = atoms.select(
        "event_type",
        "v",
        "c",
        F.coalesce(F.sum("c").over(wprev), F.lit(0))
        .cast("bigint")
        .alias("below"),
        F.sum("c").over(wall).cast("bigint").alias("n"),
    )
    reach = (F.col("below") + F.col("c")) * 20
    bounds = ranked.groupBy("event_type").agg(
        F.min(F.when(reach >= F.col("n"), F.col("v"))).alias("lo"),
        F.min(F.when(reach >= 19 * F.col("n"), F.col("v"))).alias("hi"),
    )
    j = ranked.join(F.broadcast(bounds), "event_type")
    clamped = F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi"))
    return j.groupBy(
        "event_type", F.col("lo").alias("lo_e4"), F.col("hi").alias("hi_e4")
    ).agg(
        F.sum("c").cast("bigint").alias("n"),
        F.floor(
            F.sum(F.col("c") * clamped).cast("double") / F.sum("c")
        )
        .cast("bigint")
        .alias("winsor_mean_e4"),
    ).select("event_type", "lo_e4", "hi_e4", "n", "winsor_mean_e4")


@query(
    "agg_bootstrap_se",
    """
    WITH base AS (
        SELECT event_id, CAST(FLOOR(value * 10000) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'
    ), reps AS (
        SELECT b.b, base.v,
               CAST('0x' || substr(md5(CAST(base.event_id AS VARCHAR)
                                       || '_' || CAST(b.b AS VARCHAR)),
                                   1, 7) AS BIGINT)
               / 268435456.0 AS u
        FROM base, (SELECT unnest(range(1, 51)) AS b) b
    ), weighted AS (
        SELECT b,
               CASE WHEN u < 0.36787944117144233 THEN 0
                    WHEN u < 0.7357588823428847 THEN 1
                    WHEN u < 0.9196986029286058 THEN 2
                    WHEN u < 0.9810118431238462 THEN 3
                    WHEN u < 0.9963401531726563 THEN 4
                    ELSE 5 END AS w,
               v
        FROM reps
    ), boot AS (
        SELECT b,
               CAST(FLOOR(CAST(SUM(w * v) AS DOUBLE) / SUM(w) * 100)
                    AS BIGINT) AS m_e6
        FROM weighted GROUP BY b
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_boot,
               CAST(SUM(m_e6) AS BIGINT) AS sm,
               CAST(SUM(m_e6 * m_e6) AS BIGINT) AS smm
        FROM boot
    )
    SELECT n_boot,
           CAST(FLOOR(CAST(sm AS DOUBLE) / n_boot) AS BIGINT) AS boot_mean_e6,
           CAST(FLOOR(sqrt((CAST(smm AS DOUBLE)
                            - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                              / n_boot)
                           / (n_boot - 1))) AS BIGINT) AS boot_se_e6
    FROM stats
    """,
)
def agg_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap standard error of the mean, fully deterministic
    (round 5 batch 13): 50 Poisson(1) resamples of purchase values —
    the uncertainty quantification a point estimate needs before
    anyone compares two dashboards ("is that +0.4% real?"), done the
    way a DISTRIBUTED bootstrap actually works: the Poisson bootstrap
    (Chamandy et al., Google 2012) draws each row's replicate weight
    independently (Poisson(1) ≈ multinomial at scale), so no replicate
    ever needs a global shuffled resample — one pass, B weighted aggs.

    Randomness is md5(row, replicate) mapped through the Poisson(1)
    inverse CDF with exactly-representable literal thresholds — both
    engines compute identical weights, so the WHOLE bootstrap is
    hash-reproducible (re-running yields bit-identical CIs; the
    sample_weighted/split_train_holdout hashing discipline). Replicate
    means floor to e6 integers ONCE; the SE formula runs on exact
    integer (Σm, Σm²) over B=50.

    Scale: the explode is B× the FILTERED base (never the raw corpus);
    per-replicate states are two bigints. At 100 TB, B rides the same
    scan as the statistic itself."""
    base = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
        )
    )
    reps = base.withColumn(
        "b", F.explode(F.sequence(F.lit(1), F.lit(50)))
    ).withColumn(
        "u",
        md5_int(
            F.col("event_id").cast("string"),
            F.lit("_"),
            F.col("b").cast("string"),
            digits=7,
        )
        / 268435456.0,
    )
    w = (
        F.when(F.col("u") < 0.36787944117144233, 0)
        .when(F.col("u") < 0.7357588823428847, 1)
        .when(F.col("u") < 0.9196986029286058, 2)
        .when(F.col("u") < 0.9810118431238462, 3)
        .when(F.col("u") < 0.9963401531726563, 4)
        .otherwise(5)
    )
    boot = (
        reps.select("b", "v", w.alias("w"))
        .groupBy("b")
        .agg(
            F.floor(
                F.sum(F.col("w") * F.col("v")).cast("double")
                / F.sum("w")
                * 100
            )
            .cast("bigint")
            .alias("m_e6")
        )
    )
    stats = boot.agg(
        F.count("*").cast("bigint").alias("n_boot"),
        F.sum("m_e6").cast("bigint").alias("sm"),
        F.sum(F.col("m_e6") * F.col("m_e6")).cast("bigint").alias("smm"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return stats.select(
        "n_boot",
        F.floor(d("sm") / F.col("n_boot")).cast("bigint").alias("boot_mean_e6"),
        F.floor(
            F.sqrt(
                (d("smm") - d("sm") * d("sm") / F.col("n_boot"))
                / (F.col("n_boot") - 1)
            )
        )
        .cast("bigint")
        .alias("boot_se_e6"),
    )


@query(
    "agg_itemset_lift",
    """
    WITH basket AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ), n_orders AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM basket
    ), item AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM basket GROUP BY p_brand
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2 HAVING COUNT(*) >= 10
    )
    SELECT p.brand_a, p.brand_b, p.support,
           CAST(FLOOR(CAST(p.support AS DOUBLE) * 10000 / ia.cnt)
                AS BIGINT) AS conf_a_to_b_e4,
           CAST(FLOOR(CAST(p.support AS DOUBLE)
                      * (SELECT n FROM n_orders)
                      / (CAST(ia.cnt AS DOUBLE) * ib.cnt) * 10000)
                AS BIGINT) AS lift_e4
    FROM pairs p
    JOIN item ia ON ia.p_brand = p.brand_a
    JOIN item ib ON ib.p_brand = p.brand_b
    """,
)
def agg_itemset_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules with confidence and lift (round 5 batch 15):
    agg_itemset_pairs' raw co-purchase support ranked the loudest
    pairs; this emits what a recommender/assortment decision actually
    consumes — confidence P(b|a) and LIFT P(ab)/(P(a)P(b)), which
    discounts pairs that co-occur only because both items are popular
    (lift ≈ 1 ⇒ independence; the support-only view can't tell).
    Support floor ≥ 10 is the standard minimum-evidence cut applied
    BEFORE the expensive rule scoring.

    Counts (support, item counts, basket total) are exact bigints off
    the same basket-local pair expansion (Σ basket², never catalog²);
    confidence and lift are one floored double each, with the basket
    total riding a scalar subquery (1-row broadcast in the Spark
    plan). Item counts broadcast — the dimension-sized rule join.

    Scale: identical to itemset_pairs plus two broadcast joins; at
    100 TB the item-count table is the persisted statistics artifact
    the next mining pass reuses."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part")
    basket = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = basket.select(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    item = basket.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    a = basket.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_a")
    )
    b = basket.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= 10)
    )
    ia = item.select(
        F.col("p_brand").alias("brand_a"), F.col("cnt").alias("cnt_a")
    )
    ib = item.select(
        F.col("p_brand").alias("brand_b"), F.col("cnt").alias("cnt_b")
    )
    j = (
        pairs.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .crossJoin(F.broadcast(n_orders))
    )
    return j.select(
        "brand_a",
        "brand_b",
        "support",
        F.floor(F.col("support").cast("double") * 10000 / F.col("cnt_a"))
        .cast("bigint")
        .alias("conf_a_to_b_e4"),
        F.floor(
            F.col("support").cast("double")
            * F.col("n")
            / (F.col("cnt_a").cast("double") * F.col("cnt_b"))
            * 10000
        )
        .cast("bigint")
        .alias("lift_e4"),
    )


@query(
    "agg_theil_decomposition",
    """
    WITH cust AS (
        SELECT c_nationkey AS nation,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000 AS x
        FROM customer
    ), gstats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM cust
    ), grp AS (
        SELECT nation, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(x) AS BIGINT) AS sg
        FROM cust GROUP BY nation
    ), rowterms AS (
        SELECT c.nation,
               CAST(FLOOR((CAST(c.x AS DOUBLE) / (CAST(g.sg AS DOUBLE) / g.ng))
                          * ln(CAST(c.x AS DOUBLE)
                               / (CAST(g.sg AS DOUBLE) / g.ng))
                          * 1000000000) AS BIGINT) AS tg_term_e9,
               CAST(FLOOR((CAST(c.x AS DOUBLE)
                           / (CAST((SELECT s FROM gstats) AS DOUBLE)
                              / (SELECT n FROM gstats)))
                          * ln(CAST(c.x AS DOUBLE)
                               / (CAST((SELECT s FROM gstats) AS DOUBLE)
                                  / (SELECT n FROM gstats)))
                          * 1000000000) AS BIGINT) AS tt_term_e9
        FROM cust c JOIN grp g USING (nation)
    ), pernation AS (
        SELECT r.nation, g.ng,
               CAST(FLOOR(CAST(SUM(r.tg_term_e9) AS DOUBLE) / g.ng)
                    AS BIGINT) AS t_g_e9,
               CAST(FLOOR(
                   (CAST(g.ng AS DOUBLE) / (SELECT n FROM gstats))
                   * ((CAST(g.sg AS DOUBLE) / g.ng)
                      / (CAST((SELECT s FROM gstats) AS DOUBLE)
                         / (SELECT n FROM gstats)))
                   * (CAST(SUM(r.tg_term_e9) AS DOUBLE) / g.ng)) AS BIGINT)
                   AS within_e9,
               CAST(FLOOR(
                   (CAST(g.ng AS DOUBLE) / (SELECT n FROM gstats))
                   * ((CAST(g.sg AS DOUBLE) / g.ng)
                      / (CAST((SELECT s FROM gstats) AS DOUBLE)
                         / (SELECT n FROM gstats)))
                   * ln((CAST(g.sg AS DOUBLE) / g.ng)
                        / (CAST((SELECT s FROM gstats) AS DOUBLE)
                           / (SELECT n FROM gstats)))
                   * 1000000000) AS BIGINT) AS between_e9,
               CAST(SUM(r.tt_term_e9) AS BIGINT) AS tt_sum_e9
        FROM rowterms r JOIN grp g USING (nation)
        GROUP BY r.nation, g.ng, g.sg
    )
    SELECT CAST(nation AS BIGINT) AS nation, ng, t_g_e9, within_e9,
           between_e9,
           CAST(SUM(within_e9) OVER () AS BIGINT) AS within_sum_e9,
           CAST(SUM(between_e9) OVER () AS BIGINT) AS between_sum_e9,
           CAST(FLOOR(CAST(SUM(tt_sum_e9) OVER () AS DOUBLE)
                      / (SELECT n FROM gstats)) AS BIGINT) AS t_total_e9
    FROM pernation
    """,
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index with between/within decomposition
    (round 5 batch 18): T = (1/n)Σ(x/μ)ln(x/μ) over customer balances
    (shifted positive), split EXACTLY into T_between (inequality of
    nation means) + T_within (Σ weighted per-nation Theils) — the
    decomposability the Gini famously lacks, and the reason Theil is
    the inequality measure used when the question is "is the
    disparity BETWEEN segments or INSIDE them?" (drives completely
    different interventions). agg_gini_concentration gives the one
    number; this locates it.

    Float discipline: group and global means are doubles derived from
    exact bigint (Σ, n); every per-row (x/μ)ln(x/μ) term floors to e9
    ONCE (identical expression both engines), per-group aggregation
    then runs in exact bigint; the decomposition identity
    T ≈ within + between holds to flooring error (≤ n ulps at e9 —
    the referee bounds it). Per-nation rows carry their own T_g,
    weighted contributions, and the riding totals.

    Scale: one row-term pass joined against the group-stat broadcast,
    then nation-level folds — the group table is dimension-sized."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        (F.round(F.col("c_acctbal") * 100).cast("bigint") + 100000).alias("x"),
    )
    glob = cust.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    grp = cust.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum("x").cast("bigint").alias("sg"),
    )
    j = cust.join(F.broadcast(grp), "nation").crossJoin(F.broadcast(glob))
    mu_g = F.col("sg").cast("double") / F.col("ng")
    mu = F.col("s").cast("double") / F.col("n")
    xd = F.col("x").cast("double")
    rowterms = j.select(
        "nation",
        "ng",
        "sg",
        "n",
        "s",
        F.floor((xd / mu_g) * F.log(xd / mu_g) * 1000000000)
        .cast("bigint")
        .alias("tg_term_e9"),
        F.floor((xd / mu) * F.log(xd / mu) * 1000000000)
        .cast("bigint")
        .alias("tt_term_e9"),
    )
    share = F.col("ng").cast("double") / F.col("n")
    ratio = (F.col("sg").cast("double") / F.col("ng")) / (
        F.col("s").cast("double") / F.col("n")
    )
    pernation = rowterms.groupBy("nation", "ng", "sg", "n", "s").agg(
        F.sum("tg_term_e9").cast("bigint").alias("tg_sum"),
        F.sum("tt_term_e9").cast("bigint").alias("tt_sum_e9"),
    ).select(
        "nation",
        "ng",
        "n",
        F.floor(F.col("tg_sum").cast("double") / F.col("ng"))
        .cast("bigint")
        .alias("t_g_e9"),
        F.floor(share * ratio * (F.col("tg_sum").cast("double") / F.col("ng")))
        .cast("bigint")
        .alias("within_e9"),
        F.floor(share * ratio * F.log(ratio) * 1000000000)
        .cast("bigint")
        .alias("between_e9"),
        "tt_sum_e9",
    )
    wall = Window.partitionBy()
    return pernation.select(
        F.col("nation").cast("bigint").alias("nation"),
        "ng",
        "t_g_e9",
        "within_e9",
        "between_e9",
        F.sum("within_e9").over(wall).cast("bigint").alias("within_sum_e9"),
        F.sum("between_e9").over(wall).cast("bigint").alias("between_sum_e9"),
        F.floor(
            F.sum("tt_sum_e9").over(wall).cast("double") / F.col("n")
        )
        .cast("bigint")
        .alias("t_total_e9"),
    )


@query(
    "agg_geometric_mean",
    """
    WITH atoms AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE value > 0 GROUP BY 1, 2
    ), logs AS (
        SELECT event_type, c,
               CAST(FLOOR(ln(CAST(v AS DOUBLE) / 10000) * 1000000000)
                    AS BIGINT) AS lnv_e9
        FROM atoms
    )
    SELECT event_type,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(FLOOR(exp(CAST(SUM(c * lnv_e9) AS DOUBLE)
                          / SUM(c) / 1000000000) * 10000) AS BIGINT)
               AS geo_mean_e4
    FROM logs GROUP BY event_type
    """,
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per series (round 5 batch 21): exp(mean(ln x))
    — the correct average for ratios, growth factors and
    latency-style right-skewed positives, where the arithmetic mean
    chases the tail (a 100× spike moves it 100×; it moves the
    geometric mean by 100^(1/n)). The aggregate surface's log-domain
    member next to the winsorized/robust family.

    The float-product trap (Πx overflows AND is order-dependent)
    solved the survival-curve way: aggregate to value atoms, floor
    each atom's ln ONCE to an e9 integer, take the exact bigint
    count-weighted sum, and run exp() once per group. ln·e9 ≤ 1e10
    per atom keeps the weighted sum exact past 10⁸ rows per group.

    Scale: atom-table reduction, one map-side agg + one tiny-group
    fold; mergeable state = (Σ c·ln_e9, Σc) per group — sketch-style
    mergeability with exact arithmetic."""
    ev = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    atoms = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    lnv = F.floor(
        F.log(F.col("v").cast("double") / 10000) * 1000000000
    ).cast("bigint")
    logs = atoms.select("event_type", "c", lnv.alias("lnv_e9"))
    return logs.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.floor(
            F.exp(
                F.sum(F.col("c") * F.col("lnv_e9")).cast("double")
                / F.sum("c")
                / 1000000000
            )
            * 10000
        )
        .cast("bigint")
        .alias("geo_mean_e4"),
    )


@query(
    "agg_runs_test",
    """
    WITH atoms AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), med AS (
        SELECT event_type,
               MIN(CASE WHEN cum * 2 >= n THEN v END) AS m
        FROM (
            SELECT event_type, v,
                   CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum,
                   CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM atoms
        ) GROUP BY event_type
    ), signs AS (
        SELECT e.event_type,
               CASE WHEN CAST(FLOOR(e.value * 10000) AS BIGINT) > med.m
                    THEN 1 ELSE 0 END AS s,
               lag(CASE WHEN CAST(FLOOR(e.value * 10000) AS BIGINT) > med.m
                        THEN 1 ELSE 0 END) OVER (
                   PARTITION BY e.event_type ORDER BY e.ts, e.event_id
               ) AS prev_s
        FROM events e JOIN med USING (event_type)
        WHERE CAST(FLOOR(e.value * 10000) AS BIGINT) <> med.m
    ), stats AS (
        SELECT event_type,
               CAST(SUM(s) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2,
               CAST(1 + COUNT(*) FILTER (prev_s IS NOT NULL
                                          AND s <> prev_s) AS BIGINT) AS r
        FROM signs GROUP BY event_type
    )
    SELECT event_type, n1, n2, r,
           CAST(FLOOR(
               (CAST(r AS DOUBLE)
                - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
               / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                      / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2)
                         * (n1 + n2 - 1)))
               * 10000) AS BIGINT) AS z_e4
    FROM stats
    """,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per series (round 5 batch 23): is the
    above/below-median sequence RANDOM in time? Too few runs ⇒
    clustering/trending (a level shift parks the series on one side),
    too many ⇒ oscillation (negative feedback, alternating load) —
    the randomness check that completes the testing family: KS/Welch/
    U compare DISTRIBUTIONS, χ² compares CATEGORIES, runs tests
    ORDER, which none of the others see at all.

    Median via the discrete-atom cross-multiplication (cum·2 ≥ n);
    exact-median ties are EXCLUDED (the standard treatment — a tie
    has no side); runs count = 1 + sign changes off one lag window;
    (n1, n2, R) exact bigints, the normal-approximation z one floored
    formula. Deterministic end-to-end.

    Scale: atom-table median + broadcast back + one series window —
    the ts_outlier_mad shape with a lag instead of a flag."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    atoms = ev.groupBy("event_type", v.alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    ranked = atoms.select(
        "event_type",
        "v",
        F.sum("c").over(wcum).cast("bigint").alias("cum"),
        F.sum("c").over(wall).cast("bigint").alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))
        ).alias("m")
    )
    j = ev.join(F.broadcast(med), "event_type").filter(v != F.col("m"))
    s = F.when(v > F.col("m"), 1).otherwise(0)
    wseq = Window.partitionBy("event_type").orderBy("ts", "event_id")
    signs = j.select(
        "event_type",
        s.alias("s"),
        F.lag(s).over(wseq).alias("prev_s"),
    )
    stats = signs.groupBy("event_type").agg(
        F.sum("s").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("s")).cast("bigint").alias("n2"),
        (
            1
            + F.count_if(
                F.col("prev_s").isNotNull() & (F.col("s") != F.col("prev_s"))
            )
        )
        .cast("bigint")
        .alias("r"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mu = 1.0 + 2.0 * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2"))
    var = (
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (
            (F.col("n1") + F.col("n2")).cast("double")
            * (F.col("n1") + F.col("n2"))
            * (F.col("n1") + F.col("n2") - 1)
        )
    )
    return stats.select(
        "event_type",
        "n1",
        "n2",
        "r",
        F.floor((d("r") - mu) / F.sqrt(var) * 10000)
        .cast("bigint")
        .alias("z_e4"),
    )


@query(
    "agg_odds_ratio",
    """
    WITH cells AS (
        SELECT CAST(COUNT(*) FILTER (dayofweek(ts) IN (0, 6)
                    AND event_type = 'purchase') AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (dayofweek(ts) IN (0, 6)
                    AND event_type <> 'purchase') AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (dayofweek(ts) NOT IN (0, 6)
                    AND event_type = 'purchase') AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (dayofweek(ts) NOT IN (0, 6)
                    AND event_type <> 'purchase') AS BIGINT) AS d
        FROM events
    )
    SELECT a, b, c, d,
           CAST(FLOOR(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)
                      * 10000) AS BIGINT) AS odds_ratio_e4,
           CAST(FLOOR(sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
                      * 10000) AS BIGINT) AS log_se_e4,
           CAST(FLOOR((ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                       - 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))
                      * 10000) AS BIGINT) AS ci_lo_ln_e4,
           CAST(FLOOR((ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                       + 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))
                      * 10000) AS BIGINT) AS ci_hi_ln_e4
    FROM cells
    """,
)
def agg_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 odds ratio with Woolf confidence interval (round 5 batch
    24): are purchases relatively MORE likely on weekends? — the
    epidemiology/risk-analysis readout for any exposure×outcome pair
    (OR = ad/bc), with the log-scale SE √(1/a+1/b+1/c+1/d) and the
    95% CI that tells you whether OR ≠ 1 is believable. χ² (the
    association test) says "related"; the odds ratio says "how
    strongly, in which direction, with what uncertainty" — the
    effect-size sibling of agg_cramers_v for the 2×2 special case.

    Four conditional counts in ONE pass (exact bigints), then OR, SE
    and both CI bounds as shared double expressions floored e4. The
    CI is emitted in log-odds units (the scale the normal
    approximation lives on); exponentiating is the consumer's
    one-liner.

    Scale: a single map-side-combinable conditional-count agg —
    4 longs of state, mergeable across any sharding."""
    ev = load(spark, sf_dir, "events")
    wend = (F.dayofweek("ts") - 1).isin(0, 6)
    purch = F.col("event_type") == "purchase"
    cells = ev.agg(
        F.count_if(wend & purch).cast("bigint").alias("a"),
        F.count_if(wend & ~purch).cast("bigint").alias("b"),
        F.count_if(~wend & purch).cast("bigint").alias("c"),
        F.count_if(~wend & ~purch).cast("bigint").alias("d"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    orr = dd("a") * dd("d") / (dd("b") * dd("c"))
    se = F.sqrt(1.0 / dd("a") + 1.0 / dd("b") + 1.0 / dd("c") + 1.0 / dd("d"))
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.floor(orr * 10000).cast("bigint").alias("odds_ratio_e4"),
        F.floor(se * 10000).cast("bigint").alias("log_se_e4"),
        F.floor((F.log(orr) - 1.96 * se) * 10000)
        .cast("bigint")
        .alias("ci_lo_ln_e4"),
        F.floor((F.log(orr) + 1.96 * se) * 10000)
        .cast("bigint")
        .alias("ci_hi_ln_e4"),
    )


@query(
    "agg_capture_recapture",
    """
    WITH w1 AS (
        SELECT DISTINCT user_id FROM events
        WHERE CAST(ts AS DATE) < (SELECT MIN(CAST(ts AS DATE)) + 7
                                  FROM events)
    ), w2 AS (
        SELECT DISTINCT user_id FROM events
        WHERE CAST(ts AS DATE) >= (SELECT MIN(CAST(ts AS DATE)) + 7
                                   FROM events)
          AND CAST(ts AS DATE) < (SELECT MIN(CAST(ts AS DATE)) + 14
                                  FROM events)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w1) AS n1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM w2) AS n2,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM w1 JOIN w2 USING (user_id)) AS m,
           CAST(FLOOR(
               (CAST((SELECT COUNT(*) FROM w1) AS DOUBLE) + 1)
               * (CAST((SELECT COUNT(*) FROM w2) AS DOUBLE) + 1)
               / (CAST((SELECT COUNT(*) FROM w1 JOIN w2 USING (user_id))
                       AS DOUBLE) + 1) - 1) AS BIGINT) AS n_hat
    """,
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate (round 5 batch 25),
    Chapman estimator: two week-long "sightings" of the user
    population (week 1, week 2) estimate the TOTAL population —
    including users neither week saw — as N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    from the overlap m. The ecology method is exactly the data
    engineer's coverage question: "how many real users/entities exist
    given two overlapping partial feeds?" — dedup tells you what you
    caught twice; capture-recapture tells you what you NEVER caught.
    (Chapman, not Lincoln-Petersen: finite-sample unbiased and safe
    at m = 0.)

    Two distinct-sets + one semi-overlap count, all exact bigints;
    the estimator is one floored double expression. Week boundaries
    derive from the corpus's own min date (integer day arithmetic).

    Scale: two distinct shuffles + one join on user_id — at 100 TB
    the sighting sets are the per-feed key inventories the ingest
    already maintains; the estimate itself costs three scalars."""
    ev = load(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    j = ev.crossJoin(F.broadcast(d0)).select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("age"),
    )
    w1 = j.filter(F.col("age") < 7).select("user_id").distinct()
    w2 = (
        j.filter((F.col("age") >= 7) & (F.col("age") < 14))
        .select("user_id")
        .distinct()
    )
    c1 = w1.agg(F.count("*").cast("bigint").alias("n1"))
    c2 = w2.agg(F.count("*").cast("bigint").alias("n2"))
    cm = w1.join(w2, "user_id").agg(
        F.count("*").cast("bigint").alias("m")
    )
    out = c1.crossJoin(F.broadcast(c2)).crossJoin(F.broadcast(cm))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return out.select(
        "n1",
        "n2",
        "m",
        F.floor((d("n1") + 1) * (d("n2") + 1) / (d("m") + 1) - 1)
        .cast("bigint")
        .alias("n_hat"),
    )


@query(
    "agg_simpson_diversity",
    """
    WITH counts AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(FLOOR((1.0 - CAST(SUM(c * c) AS DOUBLE)
                             / (CAST(SUM(c) AS DOUBLE) * SUM(c)))
                      * 1000000) AS BIGINT) AS simpson_e6
    FROM counts GROUP BY user_id
    """,
)
def agg_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity per user (round 5 batch 31): 1 − Σpᵢ² — the
    probability two random events from the same user differ in type.
    agg_entropy's quadratic sibling with a different sensitivity
    profile: entropy weights rare behaviors logarithmically (a single
    stray event moves it), Simpson is dominated by the TOP shares (a
    bot that is 99% one action scores ≈0 regardless of a long rare
    tail) — which is why ecology reports both, and why the bot-triage
    stack here pairs it with the entropy rate and burstiness.

    Exact: per-(user, type) counts are bigint; Σc² and (Σc)² stay in
    integer arithmetic with ONE double division — no per-share float
    terms at all (unlike entropy's fold, Simpson needs no logs, so
    the whole statistic is a ratio of exact integers).

    Scale: one two-key agg + one user-key agg, both map-side
    combinable; state per user = two longs."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return counts.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_types"),
        F.floor(
            (
                1.0
                - F.sum(F.col("c") * F.col("c")).cast("double")
                / (F.sum("c").cast("double") * F.sum("c"))
            )
            * 1000000
        )
        .cast("bigint")
        .alias("simpson_e6"),
    )


@query(
    "agg_wilson_interval",
    """
    WITH g AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE n_chars >= 200) AS BIGINT) AS k
        FROM documents GROUP BY lang
    )
    SELECT lang, n, k,
           CAST(FLOOR(CAST(k AS DOUBLE) / n * 1000000) AS BIGINT) AS p_e6,
           CAST(FLOOR(
               ((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * n))
                - 1.96 * sqrt(CAST(k AS DOUBLE) / n
                              * (1 - CAST(k AS DOUBLE) / n) / n
                              + 1.96 * 1.96 / (4.0 * n * n)))
               / (1 + 1.96 * 1.96 / n) * 1000000) AS BIGINT) AS wilson_lo_e6,
           CAST(FLOOR(
               ((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * n))
                + 1.96 * sqrt(CAST(k AS DOUBLE) / n
                              * (1 - CAST(k AS DOUBLE) / n) / n
                              + 1.96 * 1.96 / (4.0 * n * n)))
               / (1 + 1.96 * 1.96 / n) * 1000000) AS BIGINT) AS wilson_hi_e6
    FROM g
    """,
)
def agg_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval per group (round 6): the proportion
    CI that stays inside [0,1] and behaves at small n — what a
    quality-gate dashboard should print next to every pass-rate
    instead of the ±1.96·√(p(1−p)/n) Wald interval that collapses at
    p→0/1 (precisely where corpus QA lives).  Here: the share of docs
    per language passing the ≥200-char gate, with honest uncertainty.

    Parity: n, k are exact bigints; p̂ and both bounds are single
    double expressions written in the oracle's literal order (1.96
    parses to the identical IEEE64 in both engines), floored e6 at
    the end — the agg_t_test_welch discipline.

    Scale: one partial agg to |groups| rows; the CI math is free."""
    d = load(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count(F.when(F.col("n_chars") >= 200, 1)).cast("bigint").alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    z2 = 1.96 * 1.96
    center = p + z2 / (2 * n)
    half = 1.96 * F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    denom = 1 + z2 / n
    return g.select(
        "lang",
        "n",
        "k",
        F.floor(p * 1000000).cast("bigint").alias("p_e6"),
        F.floor((center - half) / denom * 1000000)
        .cast("bigint")
        .alias("wilson_lo_e6"),
        F.floor((center + half) / denom * 1000000)
        .cast("bigint")
        .alias("wilson_hi_e6"),
    )


@query(
    "agg_ratio_delta_method",
    """
    WITH per_user AS (
        SELECT user_id,
               CAST('0x' || substr(md5('exp42_' || CAST(user_id AS VARCHAR)),
                                   1, 7) AS BIGINT) % 2 AS arm,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM per_user GROUP BY arm
    )
    SELECT arm, n,
           CAST(FLOOR(CAST(sx AS DOUBLE) / sy * 1000000) AS BIGINT)
               AS r_e6,
           CAST(FLOOR(
               sqrt(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                     - 2 * (CAST(sx AS DOUBLE) / sy)
                         * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                     + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)
                         * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))
                    / n / n
                    / ((CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)))
               * 1000000) AS BIGINT) AS se_e6
    FROM s
    """,
)
def agg_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO-metric standard error by the delta method (round 6): the
    experimentation stat events_ab_cuped / events_ab_srm don't cover —
    'revenue per event' is a ratio of two USER-LEVEL sums, and naive
    per-event variance is wrong because events cluster within users
    (the unit of randomization).  Var(X̄/Ȳ) ≈ (σx² − 2Rσxy + R²σy²)
    / (n·ȳ²) over user-level (x, y) pairs — the formula every A/B
    platform implements for ratio metrics.

    Exactness discipline: per-user x (cents) and y (events) are exact
    bigints; the five arm-level sums (Σx, Σy, Σx², Σy², Σxy) are exact
    bigint partials (mergeable, any order); R, the three centered
    moments, and the SE are ONE double expression chain written in the
    oracle's literal order, floored e6 at the end.  Cents (not e4)
    keep Σx² far from the int64 cliff.

    Scale: one user-keyed rollup (the randomization-unit shuffle the
    experiment already needs), then a 2-row arm aggregate."""
    ev = load(spark, sf_dir, "events")
    arm = md5_int(F.lit("exp42_"), F.col("user_id").cast("string"), digits=7) % 2
    per_user = ev.groupBy("user_id", arm.alias("arm")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x"),
        F.count("*").cast("bigint").alias("y"),
    )
    s = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n = d("n")
    r = d("sx") / F.col("sy")
    cxx = d("sxx") - d("sx") * F.col("sx") / F.col("n")
    cxy = d("sxy") - d("sx") * F.col("sy") / F.col("n")
    cyy = d("syy") - d("sy") * F.col("sy") / F.col("n")
    ybar = d("sy") / n
    var = (cxx - 2 * r * cxy + r * r * cyy) / n / n / (ybar * ybar)
    return s.select(
        "arm",
        "n",
        F.floor(r * 1000000).cast("bigint").alias("r_e6"),
        F.floor(F.sqrt(var) * 1000000).cast("bigint").alias("se_e6"),
    )


@query(
    "agg_pareto_coverage",
    """
    WITH per_cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT segment, o_custkey, rev_cents,
               SUM(rev_cents) OVER (PARTITION BY segment) AS seg_total,
               SUM(rev_cents) OVER (PARTITION BY segment
                                    ORDER BY rev_cents DESC, o_custkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum_rev,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY rev_cents DESC, o_custkey) AS rn
        FROM per_cust
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(CASE WHEN cum_rev * 5 >= seg_total * 4 THEN rn END)
                AS BIGINT) AS n_to_80pct,
           CAST(MAX(seg_total) AS BIGINT) AS seg_total_cents
    FROM ranked GROUP BY segment
    """,
)
def agg_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage per segment (round 6): how many top customers
    cover 80% of the segment's revenue — the '80/20' number account
    teams act on, where agg_lorenz_deciles draws the whole curve and
    agg_gini_concentration compresses it to one index; this is the
    operational cut (exactly WHERE to draw the key-account line).

    The 80% threshold is evaluated in EXACT integer arithmetic —
    cum·5 ≥ total·4 instead of cum/total ≥ 0.8 — so no division ever
    happens and the crossing row cannot flip on a float ulp;
    rev-desc + custkey gives a total order, making the crossing row
    unique and deterministic.

    Scale: fact → per-customer rollup (the only corpus shuffle), then
    segment-keyed windows over |customers| rows; the 1000× version
    ranks within segment shards and merges partial prefix sums (the
    win_running_sum discipline)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w_total = Window.partitionBy("segment")
    w_cum = (
        Window.partitionBy("segment")
        .orderBy(F.col("rev_cents").desc(), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_rn = Window.partitionBy("segment").orderBy(
        F.col("rev_cents").desc(), "o_custkey"
    )
    ranked = per_cust.select(
        "segment",
        "o_custkey",
        "rev_cents",
        F.sum("rev_cents").over(w_total).alias("seg_total"),
        F.sum("rev_cents").over(w_cum).alias("cum_rev"),
        F.row_number().over(w_rn).alias("rn"),
    )
    return ranked.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.min(
            F.when(
                F.col("cum_rev") * 5 >= F.col("seg_total") * 4, F.col("rn")
            )
        )
        .cast("bigint")
        .alias("n_to_80pct"),
        F.max("seg_total").cast("bigint").alias("seg_total_cents"),
    )


@query(
    "agg_cube_grouping_id",
    """
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING_ID (round 6) — the disambiguation agg_cube
    leaves open: a NULL grouping cell can mean 'this row is the
    subtotal over that column' OR 'the data really was NULL', and
    downstream consumers (pivot UIs, caching layers keyed on cell
    identity) MUST tell them apart.  GROUPING() is the standard answer
    — 1 when the column is rolled up, 0 when it's a real value — and
    the packed grouping id (status-bit×2 + priority-bit) names each of
    the 4 cube strata unambiguously.

    Parity notes: Spark's grouping_id() packs bits in GROUP BY column
    order, same as the explicit GROUPING()-arithmetic spelled in the
    oracle; subtotal labels are COALESCE'd to a sentinel on BOTH sides
    so the driver's hash never sees engine-specific NULL sort order
    interacting with the stratum rows.  Money exact cents.

    Scale: CUBE expands 4 strata map-side (the agg_cube discipline —
    explicit GROUPING SETS bound the blow-up when columns grow)."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cube = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("cents"),
    )
    return cube.select(
        F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
        F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias(
            "priority"
        ),
        "gid",
        "n",
        "cents",
    )


@query(
    "agg_median_of_means",
    """
    WITH bucketed AS (
        SELECT event_type,
               CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7)
                    AS BIGINT) % 9 AS bucket,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v
        FROM events
    ), bucket_means AS (
        SELECT event_type, bucket,
               CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS mean_e4
        FROM bucketed GROUP BY event_type, bucket
    ), ranked AS (
        SELECT event_type, mean_e4,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY mean_e4, bucket) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS k
        FROM bucket_means
    )
    SELECT event_type, CAST(k AS BIGINT) AS n_buckets,
           CAST(mean_e4 AS BIGINT) AS mom_e4
    FROM ranked WHERE rn = (k + 1) // 2
    """,
)
def agg_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN-OF-MEANS robust estimator per group (round 6): hash rows
    into 9 buckets, take each bucket's mean, report the median bucket
    mean — the estimator with sub-Gaussian concentration under
    heavy-tailed data that a plain mean lacks (one adversarial outlier
    corrupts at most one bucket), and the trick behind sketching-
    theory estimators (AMS, Count-Sketch medians).  Sits between
    agg_winsorized_mean (needs a trim fraction) and agg_stats (not
    robust at all).

    Determinism: bucket assignment is the md5 content-hash discipline
    (stable across engines/partitionings/retries); bucket means are
    floored-once to e4 bigints, so the median pick compares exact
    integers with a bucket-id tiebreak; odd bucket count (9) makes the
    median a single element — no interpolation anywhere.

    Scale: ONE extra aggregation level over the plain mean — (group,
    bucket) partials merge map-side, then |groups|×9 rows rank
    locally.  Mergeable, incremental."""
    ev = load(spark, sf_dir, "events")
    bucket = md5_int(F.col("event_id").cast("string"), digits=7) % 9
    v = F.floor(F.col("value") * 10000).cast("bigint")
    bucket_means = (
        ev.select("event_type", bucket.alias("bucket"), v.alias("v"))
        .groupBy("event_type", "bucket")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("mean_e4")
        )
    )
    w = Window.partitionBy("event_type").orderBy("mean_e4", "bucket")
    wc = Window.partitionBy("event_type")
    ranked = bucket_means.select(
        "event_type",
        "mean_e4",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("k"),
    )
    # integer-exact lower-median pick in BOTH engines (ADVICE r6): the
    # oracle uses (k+1)//2 and Spark floors the same expression, so an
    # even populated-bucket count (small groups missing buckets) picks
    # the identical rank instead of silently dropping the group from
    # one side.
    return ranked.filter(
        F.col("rn") == F.floor((F.col("k") + 1) / 2).cast("int")
    ).select(
        "event_type",
        F.col("k").cast("bigint").alias("n_buckets"),
        F.col("mean_e4").cast("bigint").alias("mom_e4"),
    )


@query(
    "agg_spearman_corr",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS x,
               epoch_us(ts) AS y
        FROM events
    ), xa AS (
        SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, x
    ), xr AS (
        SELECT event_type, x,
               2 * COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS rx2
        FROM xa
    ), ya AS (
        SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, y
    ), yr AS (
        SELECT event_type, y,
               2 * COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS ry2
        FROM ya
    ), j AS (
        SELECT b.event_type, xr.rx2, yr.ry2
        FROM base b
        JOIN xr ON xr.event_type = b.event_type AND xr.x = b.x
        JOIN yr ON yr.event_type = b.event_type AND yr.y = b.y
    ), m AS (
        SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(rx2) AS HUGEINT) AS sx,
               CAST(SUM(ry2) AS HUGEINT) AS sy,
               SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
               SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy,
               SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy
        FROM j GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE))
                     * 1000000) AS BIGINT)
                ELSE NULL END AS rho_e6
    FROM m
    """,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of (value, arrival order) per event
    type (round 7) — the NONPARAMETRIC monotone-trend leg next to
    agg_corr_exact's Pearson: outlier-proof, and the right question
    ("do values drift over time?") for heavy-tailed metrics.

    Exactness is the round-7 bucket-rank discipline end-to-end: both
    variables atomize (value→e4 atoms, time→µs atoms) per group; the
    tie-aware DOUBLED average rank 2·prev + c + 1 stays integral from
    a KEYED prefix window over each atom table (partitionBy
    event_type — never a global sort); ranks join back to rows on the
    atom key; and all five moments are exact 128-bit integers (HUGEINT
    / decimal(38,0)) — n⁴-scale products overflow bigint at sf0.1 —
    with ONE double formula at the end (floored-once).  Zero-variance
    groups emit NULL instead of dividing by zero.

    Scale: two atom-table aggregations + two keyed prefix windows +
    two keyed equi-joins back to rows, all partitioned by (group,
    atom); no single-partition stage anywhere."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("y"),
    )

    def rank2(col: str, out: str) -> DataFrame:
        atoms = base.groupBy("event_type", col).agg(
            F.count("*").cast("bigint").alias("c")
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return atoms.select(
            "event_type",
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).alias(out),
        )

    xr = rank2("x", "rx2")
    yr = rank2("y", "ry2")
    j = base.join(xr, ["event_type", "x"]).join(yr, ["event_type", "y"])
    d38 = "decimal(38,0)"
    m = j.groupBy("event_type").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("rx2").cast(d38).alias("sx"),
        F.sum("ry2").cast(d38).alias("sy"),
        F.sum(F.col("rx2").cast(d38) * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2").cast(d38) * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2").cast(d38) * F.col("ry2")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    rho = F.floor(
        num.cast("double")
        / F.sqrt(dx.cast("double") * dy.cast("double"))
        * 1000000
    ).cast("bigint")
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.when((dx > 0) & (dy > 0), rho).alias("rho_e6"),
    )


@query(
    "agg_two_proportion_z",
    """
    WITH arms AS (
        SELECT user_id % 2 AS arm,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                             AND value >= 200
                                        THEN user_id END) AS BIGINT)
                   AS conv_users
        FROM events GROUP BY user_id % 2
    ), w AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n_users END) AS n0,
               MAX(CASE WHEN arm = 0 THEN conv_users END) AS c0,
               MAX(CASE WHEN arm = 1 THEN n_users END) AS n1,
               MAX(CASE WHEN arm = 1 THEN conv_users END) AS c1
        FROM arms
    )
    SELECT n0, c0, n1, c1,
           CASE WHEN n0 > 0 AND n1 > 0 AND c0 + c1 > 0
                     AND c0 + c1 < n0 + n1 THEN
           CAST(FLOOR(
               (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
               / sqrt(CAST(c0 + c1 AS DOUBLE) / (n0 + n1)
                      * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                      * (1.0 / n0 + 1.0 / n1))
               * 10000) AS BIGINT) ELSE NULL END AS z_e4
    FROM w
    """,
)
def agg_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion by assignment arm
    (round 7) — the missing elementary leg of the A/B family:
    events_ab_srm checks the SPLIT, events_ab_cuped tightens a MEAN
    metric; this is the binary-outcome test (did the user purchase at
    all?) every experiment readout starts from.

    Arm = user_id % 2 (deterministic hash-split surrogate); n and
    conversions are exact distinct-user bigints; the pooled-variance
    z statistic is ONE double chain in the oracle's literal order,
    floored to e4.

    Scale: one distinct-user aggregation per arm (partial map-side),
    then a 2-row pivot — the single-partition final is the benign
    pre-reduced shape."""
    ev = load(spark, sf_dir, "events")
    arms = ev.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.countDistinct(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 200),
                F.col("user_id"),
            )
        )
        .cast("bigint")
        .alias("conv_users"),
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("conv_users"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("conv_users"))).alias("c1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pbar = (d("c0") + d("c1")) / (F.col("n0") + F.col("n1"))
    z = (d("c1") / F.col("n1") - d("c0") / F.col("n0")) / F.sqrt(
        pbar * (1.0 - pbar) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    ok = (
        (F.col("n0") > 0)
        & (F.col("n1") > 0)
        & (F.col("c0") + F.col("c1") > 0)
        & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1"))
    )
    return w.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.when(ok, F.floor(z * 10000).cast("bigint")).alias("z_e4"),
    )


@query(
    "agg_cohens_kappa",
    """
    WITH rated AS (
        SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                         >= 30 THEN 1 ELSE 0 END AS b
        FROM documents
    ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (a = 1 AND b = 1) AS BIGINT) AS n11,
               CAST(COUNT(*) FILTER (a = 1 AND b = 0) AS BIGINT) AS n10,
               CAST(COUNT(*) FILTER (a = 0 AND b = 1) AS BIGINT) AS n01,
               CAST(COUNT(*) FILTER (a = 0 AND b = 0) AS BIGINT) AS n00
        FROM rated
    )
    SELECT n, n11, n10, n01, n00,
           CASE WHEN CAST(n AS DOUBLE) * n
                     - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                        + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) > 0
                THEN CAST(FLOOR(
                    (CAST(n11 + n00 AS DOUBLE) * n
                     - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                        + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)))
                    / (CAST(n AS DOUBLE) * n
                       - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                          + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)))
                    * 1000000) AS BIGINT)
                ELSE NULL END AS kappa_e6
    FROM c
    """,
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic quality raters (round
    7) — chance-corrected agreement, the statistic every labeling /
    filter-rule comparison reports (raw agreement is inflated when
    both raters say 'keep' 90% of the time).  Raters here are two
    independent document-quality rules (char-length gate vs
    space-count word proxy — the text_model_auc label vs a Gopher-ish
    feature), so the kappa table doubles as a rule-redundancy audit
    for the filtering stack.

    Exactness: the 2×2 contingency table is exact bigints; kappa is
    algebraically rearranged to ONE ratio of integer-valued double
    products — (n·agree − Σ marginal products) / (n² − Σ marginal
    products) — floored once; degenerate marginals (pe = 1) emit
    NULL.

    Scale: one global aggregate over per-row flags (partial
    map-side); the single-partition final consumes the pre-reduced
    partials."""
    d = load(spark, sf_dir, "documents")
    a = F.when(F.col("n_chars") >= 200, 1).otherwise(0)
    b = F.when(
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" ")))
        )
        >= 30,
        1,
    ).otherwise(0)
    rated = d.select(a.alias("a"), b.alias("b"))
    c = rated.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 1), 1))
        .cast("bigint")
        .alias("n11"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 0), 1))
        .cast("bigint")
        .alias("n10"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 1), 1))
        .cast("bigint")
        .alias("n01"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 0), 1))
        .cast("bigint")
        .alias("n00"),
    )
    d_ = lambda c_: F.col(c_).cast("double")  # noqa: E731
    pe_num = (d_("n11") + d_("n10")) * (F.col("n11") + F.col("n01")) + (
        d_("n01") + d_("n00")
    ) * (F.col("n10") + F.col("n00"))
    den = d_("n") * F.col("n") - pe_num
    num = (d_("n11") + d_("n00")) * F.col("n") - pe_num
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(den > 0, F.floor(num / den * 1000000).cast("bigint")).alias(
            "kappa_e6"
        ),
    )


@query(
    "agg_poisson_dispersion",
    """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(c) AS BIGINT) AS total,
           CASE WHEN COUNT(*) > 1 AND SUM(c) > 0 THEN
               CAST(FLOOR(
                   ((CAST(SUM(c * c) AS DOUBLE)
                     - CAST(SUM(c) AS DOUBLE) * SUM(c) / COUNT(*))
                    / (COUNT(*) - 1))
                   / (CAST(SUM(c) AS DOUBLE) / COUNT(*))
                   * 1000000) AS BIGINT)
           ELSE NULL END AS dispersion_e6
    FROM daily GROUP BY event_type
    """,
)
def agg_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of daily event
    counts per type (round 7) — the overdispersion diagnostic: a
    Poisson arrival process has D = 1; D ≫ 1 means bursty/clumped
    traffic (events_burstiness' Fano-factor cousin at daily grain),
    D ≪ 1 means regular/throttled.  The first question capacity
    planning asks of a count series.

    Exactness: daily counts are exact bigints; sample variance and
    mean come from exact Σc, Σc² in ONE double chain floored to e6;
    single-day or empty groups emit NULL.

    Scale: calendar-bounded daily atom table per group, then a keyed
    aggregate — no window, no single-partition stage."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    g = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    k = F.col("k")
    s = F.col("total").cast("double")
    var = (F.col("ss").cast("double") - s * F.col("total") / k) / (k - 1)
    disp = var / (s / k)
    return g.select(
        "event_type",
        "k",
        "total",
        F.when(
            (k > 1) & (F.col("total") > 0),
            F.floor(disp * 1000000).cast("bigint"),
        ).alias("dispersion_e6"),
    )


@query(
    "agg_jackknife_ratio_se",
    """
    WITH base AS (
        SELECT CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 10000) AS BIGINT)
                    ELSE 0 END AS y,
               CASE WHEN event_type = 'click'
                    THEN CAST(FLOOR(value * 10000) AS BIGINT)
                    ELSE 0 END AS x
        FROM events WHERE event_type IN ('purchase', 'click')
    ), tot AS (
        SELECT CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x) AS BIGINT) AS sx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base
    ), loo AS (
        SELECT t.n,
               CAST(FLOOR(CAST(t.sy - b.y AS DOUBLE) / (t.sx - b.x)
                          * 1000000000) AS BIGINT) AS r_e9
        FROM base b CROSS JOIN tot t
        WHERE t.sx - b.x > 0
    ), m AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(r_e9 AS HUGEINT)) AS HUGEINT) AS s,
               SUM(CAST(r_e9 AS HUGEINT) * r_e9) AS ss
        FROM loo
    )
    SELECT n, k,
           CAST(FLOOR(sqrt(
               (CAST(k AS DOUBLE) - 1) / k
               * (CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / k))
               / 1000) AS BIGINT) AS jackknife_se_e6
    FROM m
    """,
)
def agg_jackknife_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife standard error of the purchase/click value RATIO
    (round 7) — the RESAMPLING companion to agg_ratio_delta_method's
    analytic SE and agg_bootstrap_se's bootstrap: leave-one-out
    pseudovalues need no derivative and no RNG, and for a smooth
    ratio statistic the two should agree — running both is the
    standard estimator cross-check.

    The leave-one-out trick stays one pass: R₋ᵢ = (Sy−yᵢ)/(Sx−xᵢ)
    needs only the global totals (1-row broadcast) next to each row.
    Determinism: each pseudovalue floors ONCE to e9 (the only float
    op per row), then Σr and Σr² are exact 128-bit integers
    (HUGEINT/decimal(38) — Σr² overflows bigint at sf0.1), and the
    SE is one double chain: sqrt((k−1)/k · (Σr² − (Σr)²/k)), scaled
    back e9→e6.  Rows that would zero the denominator are excluded
    (documented small-sample caveat).

    Scale: one totals aggregate + one map-side pseudovalue pass +
    one aggregate — no window, no per-row state."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    v = F.floor(F.col("value") * 10000).cast("bigint")
    base = ev.select(
        F.when(F.col("event_type") == "purchase", v).otherwise(0).alias("y"),
        F.when(F.col("event_type") == "click", v).otherwise(0).alias("x"),
    )
    tot = base.agg(
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("x").cast("bigint").alias("sx"),
        F.count("*").cast("bigint").alias("n"),
    )
    loo = (
        base.crossJoin(F.broadcast(tot))
        .filter(F.col("sx") - F.col("x") > 0)
        .select(
            "n",
            F.floor(
                (F.col("sy") - F.col("y")).cast("double")
                / (F.col("sx") - F.col("x"))
                * 1000000000
            )
            .cast("bigint")
            .alias("r_e9"),
        )
    )
    d38 = "decimal(38,0)"
    m = loo.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("r_e9").cast(d38)).alias("s"),
        F.sum(F.col("r_e9").cast(d38) * F.col("r_e9")).alias("ss"),
    )
    se = F.sqrt(
        (F.col("k").cast("double") - 1)
        / F.col("k")
        * (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("k")
        )
    ) / 1000
    return m.select(
        "n",
        "k",
        F.floor(se).cast("bigint").alias("jackknife_se_e6"),
    )


@query(
    "agg_quantiles_grouped",
    """
    WITH atoms AS (
        SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, FLOOR(value * 10000)
    ), ranked AS (
        SELECT event_type, v, c,
               COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prev,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM atoms
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN prev * 4 < n AND (prev + c) * 4 >= n
                         THEN v END) AS BIGINT) AS p25_e4,
           CAST(MIN(CASE WHEN prev * 2 < n AND (prev + c) * 2 >= n
                         THEN v END) AS BIGINT) AS p50_e4,
           CAST(MIN(CASE WHEN prev * 4 < n * 3 AND (prev + c) * 4 >= n * 3
                         THEN v END) AS BIGINT) AS p75_e4,
           CAST(MIN(CASE WHEN prev * 10 < n * 9 AND (prev + c) * 10 >= n * 9
                         THEN v END) AS BIGINT) AS p90_e4
    FROM ranked GROUP BY event_type
    """,
)
def agg_quantiles_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four exact discrete quantiles per group from ONE ordered pass
    (round 7) — the multi-readout form of agg_percentile_disc: the
    atom table (value → count) is ranked once per group, and each
    quantile is a pure-integer prefix-count pick (prev·k < n·q ≤
    (prev+c)·k — no float quantile position anywhere), so adding more
    quantiles costs zero extra passes.  At 100 TB this is the exact
    replacement for running approx_percentile four times when the
    value domain is bounded (floored metrics, latencies in µs,
    satoshi amounts) — the atom table is |distinct values| per group
    regardless of row count.

    Scale: one keyed atom aggregation + one keyed prefix window +
    one keyed rollup; no single-partition stage."""
    ev = load(spark, sf_dir, "events")
    atoms = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = Window.partitionBy("event_type")
    ranked = atoms.select(
        "event_type",
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0)).alias("prev"),
        F.sum("c").over(wn).cast("bigint").alias("n"),
    )

    def pick(mult: int, num: int):
        lo = F.col("prev") * mult < F.col("n") * num
        hi = (F.col("prev") + F.col("c")) * mult >= F.col("n") * num
        return F.min(F.when(lo & hi, F.col("v"))).cast("bigint")

    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        pick(4, 1).alias("p25_e4"),
        pick(2, 1).alias("p50_e4"),
        pick(4, 3).alias("p75_e4"),
        pick(10, 9).alias("p90_e4"),
    )


@query(
    "agg_mcnemar_test",
    """
    WITH rated AS (
        SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                         >= 30 THEN 1 ELSE 0 END AS b
        FROM documents
    ), c AS (
        SELECT CAST(COUNT(*) FILTER (a = 1 AND b = 0) AS BIGINT) AS n10,
               CAST(COUNT(*) FILTER (a = 0 AND b = 1) AS BIGINT) AS n01
        FROM rated
    )
    SELECT n10, n01,
           CASE WHEN n10 + n01 > 0 THEN
               CAST(FLOOR(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                          / (n10 + n01) * 10000) AS BIGINT)
           ELSE NULL END AS chi2_e4,
           CASE WHEN n10 + n01 > 0 THEN
               CAST(FLOOR(CAST((ABS(n10 - n01) - 1)
                               * (ABS(n10 - n01) - 1) AS DOUBLE)
                          / (n10 + n01) * 10000) AS BIGINT)
           ELSE NULL END AS chi2_cc_e4
    FROM c
    """,
)
def agg_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the paired rater table (round 7) — the
    SIGNIFICANCE companion to agg_cohens_kappa: kappa says how much
    two filter rules agree; McNemar says whether their DISAGREEMENTS
    are systematically one-sided (rule A keeps documents rule B
    drops far more often than vice versa — i.e. the rules are not
    interchangeable, one is strictly stricter).  Only the discordant
    cells matter: χ² = (n₁₀−n₀₁)²/(n₁₀+n₀₁), with the
    continuity-corrected variant alongside.

    Exact discordant-cell bigints; each statistic is one floored
    double division; no-disagreement tables emit NULL.

    Scale: the same single pre-reduced global aggregate as kappa."""
    d = load(spark, sf_dir, "documents")
    a = F.when(F.col("n_chars") >= 200, 1).otherwise(0)
    b = F.when(
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" ")))
        )
        >= 30,
        1,
    ).otherwise(0)
    c = d.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 0), 1))
        .cast("bigint")
        .alias("n10"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 1), 1))
        .cast("bigint")
        .alias("n01"),
    )
    disc = F.col("n10") + F.col("n01")
    diff = F.col("n10") - F.col("n01")
    chi2 = F.floor((diff * diff).cast("double") / disc * 10000).cast(
        "bigint"
    )
    cc = (F.abs(diff) - 1) * (F.abs(diff) - 1)
    chi2_cc = F.floor(cc.cast("double") / disc * 10000).cast("bigint")
    return c.select(
        "n10",
        "n01",
        F.when(disc > 0, chi2).alias("chi2_e4"),
        F.when(disc > 0, chi2_cc).alias("chi2_cc_e4"),
    )


@query(
    "agg_cochran_q",
    """
    WITH rated AS (
        SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
               + CASE WHEN length(text) - length(replace(text, ' ', ''))
                           >= 30 THEN 1 ELSE 0 END
               + CASE WHEN len(regexp_extract_all(text, '[.!?]+')) >= 3
                      THEN 1 ELSE 0 END AS row_sum,
               CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS r1,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                         >= 30 THEN 1 ELSE 0 END AS r2,
               CASE WHEN len(regexp_extract_all(text, '[.!?]+')) >= 3
                    THEN 1 ELSE 0 END AS r3
        FROM documents
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r1) AS BIGINT) AS c1,
               CAST(SUM(r2) AS BIGINT) AS c2,
               CAST(SUM(r3) AS BIGINT) AS c3,
               CAST(SUM(row_sum) AS BIGINT) AS t,
               CAST(SUM(row_sum * row_sum) AS BIGINT) AS t2
        FROM rated
    )
    SELECT n, c1, c2, c3,
           CASE WHEN 3 * t - t2 > 0 THEN
               CAST(FLOOR(
                   2.0 * (3.0 * (CAST(c1 AS DOUBLE) * c1
                                 + CAST(c2 AS DOUBLE) * c2
                                 + CAST(c3 AS DOUBLE) * c3)
                          - CAST(t AS DOUBLE) * t)
                   / (3.0 * t - t2) * 10000) AS BIGINT)
           ELSE NULL END AS q_e4
    FROM m
    """,
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over THREE quality raters (round 7) — the k-rater
    generalization of agg_mcnemar_test (k=2 reduces to it): do the
    char-length gate, the word-count proxy, and a sentence-count rule
    keep documents at the same RATE, or is one systematically
    stricter?  The filter-stack audit for k rules at once.

    Q = (k−1)(k·ΣCⱼ² − T²) / (k·T − ΣRᵢ²) with k=3: column sums,
    the grand total and the row-sum square total are all exact
    bigints; Q is one guarded double chain floored to e4.

    Scale: one pre-reduced global aggregate over per-row flags —
    row sums fold into the same pass (no per-rater shuffle)."""
    d = load(spark, sf_dir, "documents")
    r1 = F.when(F.col("n_chars") >= 200, 1).otherwise(0)
    r2 = F.when(
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" ")))
        )
        >= 30,
        1,
    ).otherwise(0)
    r3 = F.when(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")) >= 3, 1
    ).otherwise(0)
    rated = d.select(
        r1.alias("r1"),
        r2.alias("r2"),
        r3.alias("r3"),
        (r1 + r2 + r3).alias("row_sum"),
    )
    m = rated.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r1").cast("bigint").alias("c1"),
        F.sum("r2").cast("bigint").alias("c2"),
        F.sum("r3").cast("bigint").alias("c3"),
        F.sum("row_sum").cast("bigint").alias("t"),
        F.sum(F.col("row_sum") * F.col("row_sum"))
        .cast("bigint")
        .alias("t2"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    num = 2.0 * (
        3.0 * (d_("c1") * F.col("c1") + d_("c2") * F.col("c2")
               + d_("c3") * F.col("c3"))
        - d_("t") * F.col("t")
    )
    den = 3.0 * F.col("t") - F.col("t2")
    return m.select(
        "n",
        "c1",
        "c2",
        "c3",
        F.when(
            3 * F.col("t") - F.col("t2") > 0,
            F.floor(num / den * 10000).cast("bigint"),
        ).alias("q_e4"),
    )


@query(
    "agg_effect_size_cohens_d",
    """
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)
                        * CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS ss
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    ), w AS (
        SELECT MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
               MAX(CASE WHEN event_type = 'click' THEN s END) AS s1,
               MAX(CASE WHEN event_type = 'click' THEN ss END) AS ss1,
               MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
               MAX(CASE WHEN event_type = 'purchase' THEN s END) AS s2,
               MAX(CASE WHEN event_type = 'purchase' THEN ss END) AS ss2
        FROM g
    )
    SELECT n1, n2,
           CASE WHEN n1 > 1 AND n2 > 1 AND
                     (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                     + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                     > 0
                THEN CAST(FLOOR(
                    (CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1)
                    / sqrt(((CAST(ss1 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * s1 / n1)
                            + (CAST(ss2 AS DOUBLE)
                               - CAST(s2 AS DOUBLE) * s2 / n2))
                           / (n1 + n2 - 2))
                    * 10000) AS BIGINT)
                ELSE NULL END AS cohens_d_e4
    FROM w
    """,
)
def agg_effect_size_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d between click and purchase values (round 7) — the
    EFFECT-SIZE companion to agg_t_test_welch: at corpus scale every
    difference is 'significant' (t grows with √n), so the decision
    number is d = Δmean / pooled SD, which does NOT grow with n.
    The stats family now answers all three questions: is it real
    (t/Mann-Whitney), how big is it (d), how uncertain is the ratio
    (delta/jackknife/bootstrap SE).

    Exact e4-floored sums and squares per group; d is one guarded
    double chain (pooled SD with n₁+n₂−2 dof) floored to e4.

    Scale: one keyed aggregate + a 2-row pivot."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    v = F.floor(F.col("value") * 10000).cast("bigint")
    g = ev.select("event_type", v.alias("v")).groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    )

    def pick(et, col):
        return F.max(F.when(F.col("event_type") == et, F.col(col)))

    w = g.agg(
        pick("click", "n").alias("n1"),
        pick("click", "s").alias("s1"),
        pick("click", "ss").alias("ss1"),
        pick("purchase", "n").alias("n2"),
        pick("purchase", "s").alias("s2"),
        pick("purchase", "ss").alias("ss2"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    dev1 = d_("ss1") - d_("s1") * F.col("s1") / F.col("n1")
    dev2 = d_("ss2") - d_("s2") * F.col("s2") / F.col("n2")
    dd = (d_("s2") / F.col("n2") - d_("s1") / F.col("n1")) / F.sqrt(
        (dev1 + dev2) / (F.col("n1") + F.col("n2") - 2)
    )
    return w.select(
        "n1",
        "n2",
        F.when(
            (F.col("n1") > 1) & (F.col("n2") > 1) & (dev1 + dev2 > 0),
            F.floor(dd * 10000).cast("bigint"),
        ).alias("cohens_d_e4"),
    )


@query(
    "agg_anova_oneway",
    """
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)
                        * CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS ss
        FROM events GROUP BY event_type
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s) AS HUGEINT) AS st,
               CAST(SUM(ss) AS HUGEINT) AS sst,
               SUM(CAST(s AS HUGEINT) * s / n) AS sb_scaled
        FROM g
    )
    SELECT k, n,
           CASE WHEN k > 1 AND n > k AND
                     CAST(sst AS DOUBLE) - CAST(sb_scaled AS DOUBLE) > 0
                THEN CAST(FLOOR(
                    ((CAST(sb_scaled AS DOUBLE)
                      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / n)
                     / (k - 1))
                    / ((CAST(sst AS DOUBLE) - CAST(sb_scaled AS DOUBLE))
                       / (n - k))
                    * 10000) AS BIGINT)
                ELSE NULL END AS f_e4
    FROM m
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across ALL event types (round 7) —
    the k-group generalization of agg_t_test_welch's two-group
    question: does event type explain value variance at all?
    Between-group mean square over within-group mean square; the
    k-group screen run BEFORE k² pairwise tests.

    Determinism: per-group (n, Σ, Σ²) are exact e4 bigints; the only
    non-integer intermediate, Σⱼ(Sⱼ²/nⱼ), is computed in 128-bit
    integer division (HUGEINT / decimal(38) — identical truncation
    both engines, error bounded by k atoms of <1 each, absorbed by
    the e4 floor); F is one guarded double chain.

    Scale: one keyed aggregate + a k-row rollup — no window, no
    single-partition stage over rows."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    g = ev.select("event_type", v.alias("v")).groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    )
    d38 = "decimal(38,0)"
    m = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum(F.col("s").cast(d38)).alias("st"),
        F.sum(F.col("ss").cast(d38)).alias("sst"),
        # explicit FLOOR, not a decimal cast: Spark's decimal cast
        # rounds HALF_UP while DuckDB's HUGEINT division truncates —
        # floor pins both engines to the same integral term.  The
        # dividend is s·s ≥ 0 BY CONSTRUCTION (a square), and n > 0,
        # so the quotient is non-negative and floor == truncation for
        # EVERY sign of s — no fixture assumption about group sums.
        F.sum(
            F.floor(F.col("s").cast(d38) * F.col("s") / F.col("n"))
        ).alias("sb_scaled"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ssb = d("sb_scaled") - d("st") * d("st") / F.col("n")
    ssw = d("sst") - d("sb_scaled")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return m.select(
        "k",
        "n",
        F.when(
            (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0),
            F.floor(f_stat * 10000).cast("bigint"),
        ).alias("f_e4"),
    )


@query(
    "agg_trend_cochran_armitage",
    """
    WITH bucketed AS (
        SELECT CAST(hour(ts) // 6 AS BIGINT) AS grp,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('click', 'purchase')
    ), g AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS r
        FROM bucketed GROUP BY grp
    ), m AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(r) AS BIGINT) AS rt,
               CAST(SUM(grp * r) AS BIGINT) AS sr,
               CAST(SUM(grp * n) AS BIGINT) AS sn,
               CAST(SUM(grp * grp * n) AS BIGINT) AS snn
        FROM g
    )
    SELECT nt AS n, rt AS conversions,
           CASE WHEN rt > 0 AND rt < nt
                     AND CAST(nt AS DOUBLE) * snn
                         - CAST(sn AS DOUBLE) * sn > 0
                THEN CAST(FLOOR(
                    (CAST(nt AS DOUBLE) * sr - CAST(rt AS DOUBLE) * sn)
                    / sqrt(CAST(rt AS DOUBLE) * (nt - rt) / nt
                           * (CAST(nt AS DOUBLE) * snn
                              - CAST(sn AS DOUBLE) * sn) / nt)
                    * 10000) AS BIGINT)
                ELSE NULL END AS z_trend_e4
    FROM m
    """,
)
def agg_trend_cochran_armitage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran–Armitage trend test across ordered groups (round 7) —
    the ORDERED-group member of the proportion-test family: does
    purchase share rise or fall monotonically across the four
    six-hour dayparts?  A plain chi-square would detect ANY
    difference; CA is powered specifically against the trend
    alternative (scores 0..3 on the ordered buckets), which is the
    question dose-response and time-of-day analyses actually ask.

    Z = (N·Σsᵢrᵢ − R·Σsᵢnᵢ) / √(R(N−R)/N · (N·Σsᵢ²nᵢ − (Σsᵢnᵢ)²)/N)
    — every moment an exact bigint, one guarded double chain floored
    to e4; degenerate tables (all/no conversions, zero score
    variance) emit NULL.

    Scale: one keyed aggregate over 4 buckets + a 1-row rollup."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    b = ev.select(
        F.floor(F.hour(F.col("ts").cast("timestamp")) / 6)
        .cast("bigint")
        .alias("grp"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = b.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("r"),
    )
    m = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("r").cast("bigint").alias("rt"),
        F.sum(F.col("grp") * F.col("r")).cast("bigint").alias("sr"),
        F.sum(F.col("grp") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("grp") * F.col("grp") * F.col("n"))
        .cast("bigint")
        .alias("snn"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    svar = d("nt") * F.col("snn") - d("sn") * F.col("sn")
    z = (d("nt") * F.col("sr") - d("rt") * F.col("sn")) / F.sqrt(
        d("rt") * (F.col("nt") - F.col("rt")) / F.col("nt")
        * svar
        / F.col("nt")
    )
    return m.select(
        F.col("nt").alias("n"),
        F.col("rt").alias("conversions"),
        F.when(
            (F.col("rt") > 0) & (F.col("rt") < F.col("nt")) & (svar > 0),
            F.floor(z * 10000).cast("bigint"),
        ).alias("z_trend_e4"),
    )


@query(
    "agg_partial_correlation",
    """
    WITH base AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS x,
               CAST(hour(ts) AS BIGINT) AS y,
               CAST(dayofweek(ts) AS BIGINT) AS z
        FROM events
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * z) AS BIGINT) AS sxz,
               CAST(SUM(y * z) AS BIGINT) AS syz
        FROM base
    ), r AS (
        SELECT n,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * syy
                         - CAST(sy AS DOUBLE) * sy)) AS rxy,
               (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
               / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * szz
                         - CAST(sz AS DOUBLE) * sz)) AS rxz,
               (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
               / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                      * (CAST(n AS DOUBLE) * szz
                         - CAST(sz AS DOUBLE) * sz)) AS ryz
        FROM m
    )
    SELECT n,
           CAST(FLOOR(rxy * 1000000) AS BIGINT) AS rxy_e6,
           CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
                THEN CAST(FLOOR((rxy - rxz * ryz)
                     / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
                     * 1000000) AS BIGINT)
                ELSE NULL END AS partial_rxy_z_e6
    FROM r
    """,
)
def agg_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation r(value, hour | weekday) (round 7) — the
    confounder-controlled member of the correlation family: does
    value co-move with time-of-day AFTER removing what weekday
    explains of both?  agg_corr_exact answers the marginal question;
    drawing causal-ish conclusions from it when a third variable
    drives both is the classic analytics mistake this operator
    exists to catch.

    All nine cross moments are exact bigints from ONE scan; the
    three Pearson r's and the partial formula are one literal-order
    double chain (the r's never floor individually — only the two
    emitted readouts do); degenerate denominators emit NULL.

    Scale: a single global aggregate with map-side partials; the
    1-row finish is the audit-benign shape."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
        F.hour(F.col("ts").cast("timestamp")).cast("bigint").alias("y"),
        # Spark dayofweek() is 1=Sunday..7; DuckDB's is 0=Sunday..6.
        # Subtract 1 so the integer moments (sz/szz/sxz/syz) are
        # IDENTICAL across engines — partial r is shift-invariant
        # algebraically, but the floored-e6 readouts are only
        # bit-identical when the double chains see the same integers.
        (F.dayofweek(F.col("ts").cast("timestamp")) - 1).cast("bigint").alias("z"),
    )
    m = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("bigint").alias("syz"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def pearson(sab, a, b, saa, sbb):
        num = d("n") * F.col(sab) - d("s" + a) * F.col("s" + b)
        da = d("n") * F.col(saa) - d("s" + a) * F.col("s" + a)
        db = d("n") * F.col(sbb) - d("s" + b) * F.col("s" + b)
        return num / F.sqrt(da * db)

    rxy = pearson("sxy", "x", "y", "sxx", "syy")
    rxz = pearson("sxz", "x", "z", "sxx", "szz")
    ryz = pearson("syz", "y", "z", "syy", "szz")
    den = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    partial = (rxy - rxz * ryz) / F.sqrt(den)
    return m.select(
        "n",
        F.floor(rxy * 1000000).cast("bigint").alias("rxy_e6"),
        F.when(
            den > 0, F.floor(partial * 1000000).cast("bigint")
        ).alias("partial_rxy_z_e6"),
    )


@query(
    "agg_kruskal_wallis",
    """
    WITH s AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), t AS (
        SELECT v_e4, event_type, c,
               CAST(SUM(c) OVER (PARTITION BY v_e4) AS BIGINT) AS c_tot,
               CAST(COALESCE(SUM(c) OVER (ORDER BY v_e4
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prev
        FROM s
    ), grp AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS n_j,
               CAST(SUM(c * (2 * prev + c_tot + 1)) AS BIGINT) AS r2_j
        FROM t GROUP BY event_type
    ), ties AS (
        SELECT CAST(SUM(c_tot * c_tot * c_tot - c_tot) AS BIGINT) AS t3t
        FROM (SELECT v_e4, MAX(c_tot) AS c_tot FROM t GROUP BY v_e4)
    ), fin AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_j) AS BIGINT) AS n,
               SUM(CAST(r2_j AS DOUBLE) * CAST(r2_j AS DOUBLE)
                   / (4.0 * CAST(n_j AS DOUBLE))) AS srr,
               (SELECT t3t FROM ties) AS t3t
        FROM grp
    )
    SELECT k, n,
           CAST(FLOOR((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                       * srr - 3.0 * (CAST(n AS DOUBLE) + 1.0)) * 1000000)
                AS BIGINT) AS h_e6,
           CAST(FLOOR((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                       * srr - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                      / (1.0 - CAST(t3t AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
                      * 1000000) AS BIGINT) AS h_corr_e6
    FROM fin
    """,
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (round 9): the k-group NONPARAMETRIC screen —
    agg_anova_oneway on ranks, for the heavy-tailed value
    distributions where the F test's variance assumptions fail.
    Completes the rank family: Mann-Whitney answers 2 groups, this
    answers "do ANY of the k event types differ in location?".

    Exactness uses the same atom-table trick as agg_mann_whitney: a
    tie block of c_tot equal values after `prev` smaller ones has
    average rank prev+(c_tot+1)/2, so DOUBLED rank units
    (2·prev+c_tot+1) keep every per-group rank sum an exact bigint
    under any partition order; Σ Rⱼ²/nⱼ and the tie factor
    Σ(t³−t)/(N³−N) enter one final double chain, only the two H
    readouts floor to e6.

    Scale: rows reduce to (value-atom × group) counts FIRST — the
    cumulative window runs over |distinct values|, never raw rows,
    and it is the pre-reduced benign single-partition shape
    (plan-audit window_warn_prereduced); everything else is keyed
    aggregation."""
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4"),
        "event_type",
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_tot = Window.partitionBy("v_e4")
    w_prev = Window.orderBy("v_e4").rangeBetween(Window.unboundedPreceding, -1)
    t = s.select(
        "v_e4",
        "event_type",
        "c",
        F.sum("c").over(w_tot).cast("bigint").alias("c_tot"),
    ).withColumn(
        "prev",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0)).cast("bigint"),
    )
    grp = t.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_j"),
        F.sum(F.col("c") * (2 * F.col("prev") + F.col("c_tot") + 1))
        .cast("bigint")
        .alias("r2_j"),
    )
    ties = (
        t.groupBy("v_e4")
        .agg(F.max("c_tot").alias("c_tot"))
        .agg(
            F.sum(
                F.col("c_tot") * F.col("c_tot") * F.col("c_tot")
                - F.col("c_tot")
            )
            .cast("bigint")
            .alias("t3t")
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fin = grp.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_j").cast("bigint").alias("n"),
        F.sum(d("r2_j") * d("r2_j") / (4.0 * d("n_j"))).alias("srr"),
    ).crossJoin(F.broadcast(ties))
    h = 12.0 / (d("n") * (d("n") + 1.0)) * F.col("srr") - 3.0 * (
        d("n") + 1.0
    )
    corr = 1.0 - d("t3t") / (d("n") * d("n") * d("n") - d("n"))
    return fin.select(
        "k",
        "n",
        F.floor(h * 1000000).cast("bigint").alias("h_e6"),
        F.floor(h / corr * 1000000).cast("bigint").alias("h_corr_e6"),
    )


@query(
    "agg_levene_brown_forsythe",
    """
    WITH med AS (
        SELECT event_type,
               CAST(quantile_disc(CAST(FLOOR(value * 10000) AS BIGINT), 0.5)
                    AS BIGINT) AS med_e4
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_type,
               ABS(CAST(FLOOR(e.value * 10000) AS BIGINT) - m.med_e4) AS z
        FROM events e JOIN med m USING (event_type)
    ), grp AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_j,
               CAST(SUM(z) AS BIGINT) AS s_j,
               CAST(SUM(z * z) AS BIGINT) AS ss_j
        FROM dev GROUP BY event_type
    ), fin AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_j) AS BIGINT) AS n,
               CAST(SUM(s_j) AS BIGINT) AS s,
               CAST(SUM(ss_j) AS BIGINT) AS ss,
               SUM(CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)
                   / CAST(n_j AS DOUBLE)) AS ssn
        FROM grp
    )
    SELECT k, n,
           CAST(FLOOR(
               ((ssn - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
               / ((CAST(ss AS DOUBLE) - ssn)
                  / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
               * 1000000) AS BIGINT) AS w_e6
    FROM fin
    """,
)
def agg_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe Levene test (round 9): equal-VARIANCE screen
    across the k event types — the assumption check that decides
    between agg_anova_oneway (pooled variance) and Welch-style
    per-group variances. Brown-Forsythe deviates from the group
    MEDIAN (not mean): robust to the skew these value distributions
    actually have, and the variant recommended by the NIST handbook.

    Two exact stages: per-group discrete medians in the e4 integer
    domain (percentile_disc — an actual element, engine-portable, the
    agg_percentile_disc discipline), then |x−med| deviations as exact
    bigints whose per-group (n, Σ, Σ²) feed the standard one-way-F
    formula on deviations. The only non-integer intermediate is
    Σ sⱼ²/nⱼ, evaluated in the same literal double order on both
    engines; one floored readout.

    Scale: group-keyed median (bounded by group count) + broadcast of
    the k-row median table back onto the scan + map-side-combinable
    moments — two passes over events, no global sort, no
    single-partition stage at all."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4"),
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v_e4)")
        .cast("bigint")
        .alias("med_e4")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("v_e4") - F.col("med_e4")).alias("z"),
    )
    grp = dev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_j"),
        F.sum("z").cast("bigint").alias("s_j"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("ss_j"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fin = grp.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_j").cast("bigint").alias("n"),
        F.sum("s_j").cast("bigint").alias("s"),
        F.sum("ss_j").cast("bigint").alias("ss"),
        F.sum(d("s_j") * d("s_j") / d("n_j")).alias("ssn"),
    )
    num = (F.col("ssn") - d("s") * d("s") / d("n")) / (d("k") - 1.0)
    den = (d("ss") - F.col("ssn")) / (d("n") - d("k"))
    return fin.select(
        "k", "n", F.floor(num / den * 1000000).cast("bigint").alias("w_e6")
    )


_KENDALL_ANCHOR_N = 500


@query(
    "agg_kendall_tau",
    f"""
    WITH anchor AS (
        SELECT c.c_custkey AS k,
               CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS x,
               CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100)
                                      AS BIGINT)), 0) AS BIGINT) AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey <= {_KENDALL_ANCHOR_N}
        GROUP BY c.c_custkey, c.c_acctbal
    ), pairs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(COUNT(*) FILTER (
                   (a.x - b.x) * (a.y - b.y) > 0) AS BIGINT) AS conc,
               CAST(COUNT(*) FILTER (
                   (a.x - b.x) * (a.y - b.y) < 0) AS BIGINT) AS disc,
               CAST(COUNT(*) FILTER (a.x = b.x AND a.y <> b.y)
                    AS BIGINT) AS tx,
               CAST(COUNT(*) FILTER (a.y = b.y AND a.x <> b.x)
                    AS BIGINT) AS ty
        FROM anchor a JOIN anchor b ON a.k < b.k
    )
    SELECT n0, conc, disc,
           CAST(FLOOR((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
                      / sqrt((CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE))
                             * (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE)))
                      * 1000000) AS BIGINT) AS tau_b_e6
    FROM pairs
    """,
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (round 9): account balance vs
    realized order spend — the concordance question ("do customers
    with more balance actually spend more, monotonically?") that
    Pearson (agg_corr_exact) answers only for LINEAR co-movement and
    Spearman (agg_spearman_corr) answers through rank differences.
    tau-b's pair counts additionally give the Kendall distance
    (disc/n0 = bubble-sort distance between the two rankings), and
    its tie treatment is symmetric by construction.

    tau IS inherently pairwise — no rank reduction removes the n²
    term (contrast Spearman). The engine therefore computes it EXACT
    on a BOUNDED ANCHOR: the first {_KENDALL_ANCHOR_N} customer keys
    (deterministic at every SF, the bounded-pairs discipline of
    sim_topk_exact), whose pair table is anchor×anchor with the small
    side broadcast — pairs never shuffle, and the anchor size is the
    knob that trades confidence-interval width for cost (tau's SE
    ~ 1/sqrt(n) means 500 anchors already give ±0.03). Concordant /
    discordant / tie counts are exact bigints; only the final tau-b
    ratio floors.

    Scale: the corpus-sized stage is the spend rollup (keyed agg,
    pushed-down key filter); the quadratic stage is anchor²,
    constant in SF by construction."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= _KENDALL_ANCHOR_N)
        .select(
            F.col("c_custkey").alias("k"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("x"),
        )
    )
    spend = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= _KENDALL_ANCHOR_N)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y0")
        )
    )
    anchor = (
        cust.join(spend, "k", "left")
        .select("k", "x", F.coalesce("y0", F.lit(0)).cast("bigint").alias("y"))
    )
    a = anchor.alias("a")
    b = anchor.alias("b")
    p = a.join(F.broadcast(b), F.col("a.k") < F.col("b.k"))
    dx = F.col("a.x") - F.col("b.x")
    dy = F.col("a.y") - F.col("b.y")
    pairs = p.agg(
        F.count("*").cast("bigint").alias("n0"),
        F.count_if(dx * dy > 0).cast("bigint").alias("conc"),
        F.count_if(dx * dy < 0).cast("bigint").alias("disc"),
        F.count_if((dx == 0) & (dy != 0)).cast("bigint").alias("tx"),
        F.count_if((dy == 0) & (dx != 0)).cast("bigint").alias("ty"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    tau = (d("conc") - d("disc")) / F.sqrt(
        (d("n0") - d("tx")) * (d("n0") - d("ty"))
    )
    return pairs.select(
        "n0",
        "conc",
        "disc",
        F.floor(tau * 1000000).cast("bigint").alias("tau_b_e6"),
    )


@query(
    "agg_mann_kendall_trend",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type,
               CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.d < b.d
        GROUP BY a.event_type
    ), nn AS (
        SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS t3t
        FROM (
            SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, x
        ) GROUP BY event_type
    )
    SELECT p.event_type, n.n, p.s,
           CAST(FLOOR(
               CASE WHEN p.s > 0 THEN CAST(p.s AS DOUBLE) - 1.0
                    WHEN p.s < 0 THEN CAST(p.s AS DOUBLE) + 1.0
                    ELSE 0.0 END
               / sqrt((CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0)
                       * (2.0 * CAST(n.n AS DOUBLE) + 5.0)
                       - CAST(n.t3t AS DOUBLE)) / 18.0)
               * 1000000) AS BIGINT) AS z_e6
    FROM pairs p JOIN nn n USING (event_type)
    ORDER BY p.event_type
    """,
)
def agg_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type (round 9): the
    nonparametric "is this daily series monotonically trending?" —
    S = Σ_{i<j} sign(xⱼ−xᵢ) over the day-ordered counts, the standard
    pre-test before fitting ts_theil_sen_slope (same pair structure;
    Theil-Sen estimates the slope MK decides is nonzero). Robust to
    outlier days and distribution-free, unlike agg_regr_trend's
    least-squares t.

    Pairwise like Kendall, but the pair domain is the DAILY rollup —
    bounded by the calendar (30 days here → ≤435 pairs per series),
    never by corpus size, so the self-join is broadcast-trivial at
    every SF. S and the tie term Σ tᵢ(tᵢ−1)(2tᵢ+5) are exact
    bigints; the continuity-corrected z enters one double chain
    (σ² = [n(n−1)(2n+5) − Σt]/18), one floored readout.

    Scale: events reduce map-side to (type, day) counts first; the
    quadratic stage runs on the reduced series, constant in SF."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    a = daily.alias("a")
    b = daily.alias("b")
    sgn = (
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n0"),
            F.sum(sgn).cast("bigint").alias("s"),
        )
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum("t").cast("bigint").alias("n"),
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("t3t"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = (
        F.when(F.col("s") > 0, d("s") - 1.0)
        .when(F.col("s") < 0, d("s") + 1.0)
        .otherwise(F.lit(0.0))
    )
    sigma = F.sqrt(
        (d("n") * (d("n") - 1.0) * (2.0 * d("n") + 5.0) - d("t3t")) / 18.0
    )
    return (
        pairs.join(ties, "event_type")
        .select(
            "event_type",
            "n",
            "s",
            F.floor(num / sigma * 1000000).cast("bigint").alias("z_e6"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_hodges_lehmann",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(COUNT(DISTINCT a.d) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_walsh,
           CAST(quantile_disc(a.x + b.x, 0.5) AS BIGINT) AS hl_x2
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.d <= b.d
    GROUP BY a.event_type
    ORDER BY a.event_type
    """,
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimator (round 9) per event-type
    daily series: the median of all WALSH AVERAGES (xᵢ+xⱼ)/2, i≤j —
    the estimator the signed-rank test inverts. It splits the
    difference between the mean (efficient, fragile) and the median
    (robust, inefficient): ~96% Gaussian efficiency yet a 29%
    breakdown point, the right "typical daily volume" readout when
    outage days and burst days both occur.

    Exactness: Walsh averages stay in DOUBLED units (xᵢ+xⱼ, exact
    bigint) and the median is percentile_disc over those integers —
    an actual element, no interpolation, no floats anywhere; the
    emitted hl_x2 is exactly 2·HL.

    Scale: the pair set is inherently quadratic, but the pair domain
    is the map-side-reduced DAILY series — calendar-bounded (30 days
    → 465 Walsh points per series at ANY SF), the same
    bounded-pair discipline as agg_mann_kendall_trend; the join is
    broadcast, the median groups are tiny."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") <= F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.d").alias("d"),
        (F.col("a.x") + F.col("b.x")).cast("bigint").alias("w_x2"),
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.countDistinct("d").cast("bigint").alias("n_days"),
            F.count("*").cast("bigint").alias("n_walsh"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY w_x2)")
            .cast("bigint")
            .alias("hl_x2"),
        )
        .orderBy("event_type")
    )


_PERM_B = 200


@query(
    "agg_permutation_test",
    f"""
    WITH base AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4
        FROM events WHERE event_type IN ('click', 'purchase')
    ), obs AS (
        SELECT CAST(FLOOR(ABS(
                   CAST(SUM(v_e4) FILTER (event_type = 'click') AS DOUBLE)
                   / CAST(COUNT(*) FILTER (event_type = 'click') AS DOUBLE)
                 - CAST(SUM(v_e4) FILTER (event_type = 'purchase') AS DOUBLE)
                   / CAST(COUNT(*) FILTER (event_type = 'purchase') AS DOUBLE)
               ) * 100.0) AS BIGINT) AS d_obs_e6
        FROM base
    ), perms AS (
        SELECT b.b,
               CAST(FLOOR(ABS(
                   CAST(SUM(v_e4) FILTER (arm = 0) AS DOUBLE)
                   / CAST(COUNT(*) FILTER (arm = 0) AS DOUBLE)
                 - CAST(SUM(v_e4) FILTER (arm = 1) AS DOUBLE)
                   / CAST(COUNT(*) FILTER (arm = 1) AS DOUBLE)
               ) * 100.0) AS BIGINT) AS d_e6
        FROM (
            SELECT e.v_e4, bb.b,
                   CAST(CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
                        || ':' || CAST(bb.b AS VARCHAR)), 1, 4) AS BIGINT) % 2
                        AS BIGINT) AS arm
            FROM base e CROSS JOIN
                 (SELECT unnest(range(1, {_PERM_B} + 1)) AS b) bb
        ) b
        GROUP BY b.b
    )
    SELECT CAST({_PERM_B} AS BIGINT) AS n_perm,
           (SELECT d_obs_e6 FROM obs) AS d_obs_e6,
           CAST(COUNT(*) FILTER (d_e6 >= (SELECT d_obs_e6 FROM obs))
                AS BIGINT) AS n_ge,
           CAST(FLOOR((1.0 + COUNT(*) FILTER (
                    d_e6 >= (SELECT d_obs_e6 FROM obs)))
                / ({_PERM_B} + 1.0) * 1000000) AS BIGINT) AS p_e6
    FROM perms
    """,
)
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo randomization test (round 9): the
    assumption-free p-value for the click-vs-purchase mean gap —
    where Welch assumes normal-ish tails and Mann-Whitney tests rank
    dominance, the randomization test asks directly "how often does a
    random relabeling produce a gap this large?". B={_PERM_B} frozen
    relabelings, each an md5(event_id:b) coin — deterministic,
    engine-portable, re-runnable (the events_ab_srm hash-assignment
    discipline applied B times); p = (1+#{{d_b ≥ d_obs}})/(B+1), the
    add-one form that never returns zero.

    Exactness: per-relabeling arm sums are exact bigints; each mean
    gap floors to e6 through ONE identical double expression, and the
    ≥ comparison then runs on integers — no accumulated float state
    anywhere, so the full B-row distribution hash-matches.

    Scale: the B× expansion IS the method's cost and it
    DISTRIBUTES — (B·N) rows partition across executors with
    map-side partial aggregation per (b, arm); B is the knob.
    The plan-audit BNLJ note covers the 1-row obs broadcast."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    base = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    obs = base.agg(
        F.floor(
            F.abs(
                F.sum(F.when(F.col("event_type") == "click", F.col("v_e4")))
                .cast("double")
                / F.count_if(F.col("event_type") == "click").cast("double")
                - F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("v_e4"))
                ).cast("double")
                / F.count_if(F.col("event_type") == "purchase").cast("double")
            )
            * 100.0
        )
        .cast("bigint")
        .alias("d_obs_e6")
    )
    expanded = base.crossJoin(
        F.broadcast(
            spark.range(1, _PERM_B + 1).select(F.col("id").alias("b"))
        )
    ).select(
        "b",
        "v_e4",
        (
            md5_int(
                F.col("event_id").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
                digits=4,
            )
            % 2
        ).alias("arm"),
    )
    perms = expanded.groupBy("b").agg(
        F.floor(
            F.abs(
                F.sum(F.when(F.col("arm") == 0, F.col("v_e4"))).cast("double")
                / F.count_if(F.col("arm") == 0).cast("double")
                - F.sum(F.when(F.col("arm") == 1, F.col("v_e4"))).cast(
                    "double"
                )
                / F.count_if(F.col("arm") == 1).cast("double")
            )
            * 100.0
        )
        .cast("bigint")
        .alias("d_e6")
    )
    return (
        perms.crossJoin(F.broadcast(obs))
        .agg(
            F.lit(_PERM_B).cast("bigint").alias("n_perm"),
            F.max("d_obs_e6").cast("bigint").alias("d_obs_e6"),
            F.count_if(F.col("d_e6") >= F.col("d_obs_e6"))
            .cast("bigint")
            .alias("n_ge"),
            F.floor(
                (1.0 + F.count_if(F.col("d_e6") >= F.col("d_obs_e6")))
                / (_PERM_B + 1.0)
                * 1000000
            )
            .cast("bigint")
            .alias("p_e6"),
        )
    )


_EB_PRIOR_M = 20


@query(
    "agg_shrunk_rates_eb",
    f"""
    WITH per_user AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_u,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                   AS x_u
        FROM events GROUP BY user_id
    ), gstats AS (
        SELECT CAST(SUM(n_u) AS BIGINT) AS n, CAST(SUM(x_u) AS BIGINT) AS x
        FROM per_user
    )
    SELECT user_id, n_u, x_u,
           CAST((x_u * 1000000) // n_u AS BIGINT) AS raw_e6,
           CAST(((x_u * g.n + {_EB_PRIOR_M} * g.x) * 1000000)
                // ((n_u + {_EB_PRIOR_M}) * g.n) AS BIGINT) AS shrunk_e6
    FROM per_user, gstats g
    ORDER BY shrunk_e6 DESC, user_id LIMIT 20
    """,
)
def agg_shrunk_rates_eb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes SHRUNK rates (round 9): each user's purchase
    rate pulled toward the global rate with prior strength m={_EB_PRIOR_M}
    pseudo-events — shrunk = (x_u + m·p̂)/(n_u + m). The
    small-sample-rate fix every leaderboard needs: a 1-for-2 user
    beats a 40-for-100 user on raw rate and loses on the shrunk one,
    which is the correct ranking for "who converts best".
    Beta-binomial posterior mean with a moment-matched prior; the
    top-20 IS the stabilized leaderboard.

    Exactness: with p̂ = X/N, shrunk = (x_u·N + m·X)/((n_u+m)·N) is a
    ratio of bigints — the whole readout (raw and shrunk, e6-floored
    by integer division) never touches a double, so there is no
    rounding discipline to maintain at all.

    Scale: one map-side-combinable user rollup, a 1-row global
    broadcast, TakeOrdered top-20. The shrinkage expression is the
    same one a streaming scorer applies per state update."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_u"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("x_u"),
    )
    glob = per_user.agg(
        F.sum("n_u").cast("bigint").alias("n"),
        F.sum("x_u").cast("bigint").alias("x"),
    )
    return (
        per_user.crossJoin(F.broadcast(glob))
        .select(
            "user_id",
            "n_u",
            "x_u",
            F.expr("CAST((x_u * 1000000) DIV n_u AS BIGINT)").alias("raw_e6"),
            F.expr(
                f"CAST(((x_u * n + {_EB_PRIOR_M} * x) * 1000000)"
                f" DIV ((n_u + {_EB_PRIOR_M}) * n) AS BIGINT)"
            ).alias("shrunk_e6"),
        )
        .orderBy(F.col("shrunk_e6").desc(), "user_id")
        .limit(20)
    )


_HILL_K = 100


@query(
    "agg_hill_tail_index",
    f"""
    WITH top AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC, o_orderkey
        LIMIT {_HILL_K} + 1
    ), ref AS (
        SELECT CAST(MIN(cents) AS BIGINT) AS x_ref FROM top
    ), terms AS (
        SELECT CAST(FLOOR(ln(CAST(t.cents AS DOUBLE)
                             / CAST(f.x_ref AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS t_e9
        FROM top t, ref f
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           (SELECT x_ref FROM ref) AS x_ref_cents,
           CAST(SUM(t_e9) AS BIGINT) AS sum_log_e9,
           CAST(({_HILL_K} * 1000000000000000) // SUM(t_e9) AS BIGINT)
               AS alpha_e6
    FROM terms
    """,
)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index (round 9) on order
    totals: α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k={_HILL_K} largest
    values — THE standard heavy-tail exponent readout, closing the
    tail-behavior family: Benford tests digit law, Pareto-coverage
    measures concentration, Zipf fits ranks; Hill estimates the
    exponent itself (α<2 ⇒ infinite variance — means stop being
    informative; α̂ decides whether winsorized/median-of-means
    estimators are optional or mandatory).

    Exactness: the top-(k+1) order statistics pin on (cents DESC,
    orderkey); x_ref is their MIN, and the sum runs over all k+1 rows
    — the boundary row contributes ln(x_ref/x_ref)=0 exactly, so no
    rank window is needed to exclude it (and under boundary ties ANY
    excluded tie-row would have contributed the same 0). Each
    log-ratio floors to e9 through one double ln; the sum is exact
    bigint and α̂ = k·10¹⁵ DIV Σ — integer division, no accumulated
    float state.

    Scale: top-(k+1) compiles to TakeOrderedAndProject (per-partition
    heaps + driver merge, never a global sort or a single-partition
    window); k rows of log math; 1-row finish. The estimator reads a
    100 TB table through one top-k pass."""
    orders = load(spark, sf_dir, "orders")
    top = (
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderkey",
        )
        .orderBy(F.col("cents").desc(), "o_orderkey")
        .limit(_HILL_K + 1)
        .select("cents")
    )
    ref = top.agg(F.min("cents").cast("bigint").alias("x_ref"))
    terms = (
        top.crossJoin(F.broadcast(ref))
        .select(
            F.floor(
                F.log(
                    F.col("cents").cast("double")
                    / F.col("x_ref").cast("double")
                )
                * 1000000000
            )
            .cast("bigint")
            .alias("t_e9"),
            "x_ref",
        )
    )
    return terms.groupBy("x_ref").agg(
        F.lit(_HILL_K).cast("bigint").alias("k"),
        F.sum("t_e9").cast("bigint").alias("sum_log_e9"),
        F.expr(
            f"CAST(({_HILL_K} * 1000000000000000) DIV SUM(t_e9) AS BIGINT)"
        ).alias("alpha_e6"),
    ).select(
        "k",
        F.col("x_ref").cast("bigint").alias("x_ref_cents"),
        "sum_log_e9",
        "alpha_e6",
    )


@query(
    "agg_robust_summary",
    """
    WITH v AS (
        SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS x
        FROM events
    ), q AS (
        SELECT event_type,
               CAST(quantile_disc(x, 0.25) AS BIGINT) AS q1,
               CAST(quantile_disc(x, 0.5) AS BIGINT) AS med,
               CAST(quantile_disc(x, 0.75) AS BIGINT) AS q3,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY event_type
    ), m AS (
        SELECT v.event_type,
               CAST(quantile_disc(ABS(v.x - q.med), 0.5) AS BIGINT) AS mad
        FROM v JOIN q USING (event_type) GROUP BY v.event_type
    ), o AS (
        SELECT v.event_type,
               CAST(COUNT(*) FILTER (
                   v.x < q.q1 - 3 * (q.q3 - q.q1) // 2
                   OR v.x > q.q3 + 3 * (q.q3 - q.q1) // 2) AS BIGINT)
                   AS n_outliers
        FROM v JOIN q USING (event_type) GROUP BY v.event_type
    )
    SELECT q.event_type, q.n, q.q1, q.med, q.q3, m.mad, o.n_outliers,
           CAST(CASE WHEN q.q3 > q.q1 THEN
                ((q.q3 + q.q1 - 2 * q.med) * 1000000) // (q.q3 - q.q1)
                END AS BIGINT) AS bowley_skew_e6
    FROM q JOIN m USING (event_type) JOIN o USING (event_type)
    ORDER BY q.event_type
    """,
)
def agg_robust_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE-based robust summary per group (round 9) — the
    order-statistics twin of agg_stats' moment summary: median and
    quartiles (location/spread the way boxplots report them), MAD
    (the robust σ ts_outlier_mad uses, here as a per-group readout),
    Tukey-fence outlier counts (1.5·IQR rule — the boxplot whisker
    census), and Bowley skewness (q₃+q₁−2·med)/(q₃−q₁) — skew from
    quartiles alone, defined even where third moments explode. When
    agg_stats and this table disagree about a group, the data is
    heavy-tailed and the moment summary is the one lying.

    Exact: everything runs in the e4 integer domain — discrete
    quantiles are actual elements, MAD is a discrete median of
    integer deviations, fences and the Bowley ratio are integer
    arithmetic with one bigint division. No floats.

    Scale: two group-keyed passes (quantiles, then deviations against
    the broadcast medians) — the agg_levene_brown_forsythe shape; at
    100 TB swap discrete quantiles for the approx_percentile sketch
    (documented trade)."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
    )
    q = v.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY x)")
        .cast("bigint")
        .alias("q1"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
        .cast("bigint")
        .alias("med"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY x)")
        .cast("bigint")
        .alias("q3"),
        F.count("*").cast("bigint").alias("n"),
    )
    joined = v.join(F.broadcast(q), "event_type")
    m = joined.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(x - med))"
        )
        .cast("bigint")
        .alias("mad")
    )
    o = joined.groupBy("event_type").agg(
        F.count_if(
            (F.col("x") < F.col("q1") - F.expr("3 * (q3 - q1) DIV 2"))
            | (F.col("x") > F.col("q3") + F.expr("3 * (q3 - q1) DIV 2"))
        )
        .cast("bigint")
        .alias("n_outliers")
    )
    return (
        q.join(m, "event_type")
        .join(o, "event_type")
        .select(
            "event_type",
            "n",
            "q1",
            "med",
            "q3",
            "mad",
            "n_outliers",
            F.when(
                F.col("q3") > F.col("q1"),
                F.expr(
                    "CAST(((q3 + q1 - 2 * med) * 1000000)"
                    " DIV (q3 - q1) AS BIGINT)"
                ),
            ).alias("bowley_skew_e6"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_benjamini_hochberg",
    """
    WITH base AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4
        FROM events
    ), cell AS (
        SELECT event_type, dow,
               CAST(COUNT(*) AS BIGINT) AS n_cell,
               CAST(SUM(v_e4) AS BIGINT) AS s_cell
        FROM base GROUP BY event_type, dow
    ), typ AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_t,
               CAST(SUM(v_e4) AS BIGINT) AS s_t,
               CAST(SUM(v_e4 * v_e4) AS BIGINT) AS ss_t
        FROM base GROUP BY event_type
    ), z AS (
        SELECT c.event_type, CAST(c.dow AS BIGINT) AS dow, c.n_cell,
               CAST(FLOOR(
                   (CAST(c.s_cell AS DOUBLE) / c.n_cell
                    - CAST(t.s_t AS DOUBLE) / t.n_t)
                   / sqrt(((CAST(t.ss_t AS DOUBLE)
                            - CAST(t.s_t AS DOUBLE)
                              * CAST(t.s_t AS DOUBLE) / t.n_t)
                           / (t.n_t - 1.0)) / c.n_cell)
                   * 10000) AS BIGINT) AS z_e4
        FROM cell c JOIN typ t USING (event_type)
    ), p AS (
        SELECT event_type, dow, n_cell, z_e4,
               CAST(FLOOR(
                   (1.0 / (1.0 + 0.3275911
                           * (CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                              / 1.4142135623730951)))
                   * (0.254829592
                      + (1.0 / (1.0 + 0.3275911
                                * (CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                                   / 1.4142135623730951)))
                        * (-0.284496736
                           + (1.0 / (1.0 + 0.3275911
                                     * (CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                                        / 1.4142135623730951)))
                             * (1.421413741
                                + (1.0 / (1.0 + 0.3275911
                                          * (CAST(ABS(z_e4) AS DOUBLE)
                                             / 10000.0
                                             / 1.4142135623730951)))
                                  * (-1.453152027
                                     + (1.0 / (1.0 + 0.3275911
                                               * (CAST(ABS(z_e4) AS DOUBLE)
                                                  / 10000.0
                                                  / 1.4142135623730951)))
                                       * 1.061405429))))
                   * exp(-(CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                           / 1.4142135623730951)
                         * (CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                            / 1.4142135623730951))
                   * 1000000) AS BIGINT) AS p_e6
        FROM z
    ), ranked AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY p_e6, event_type, dow)
                    AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM p
    ), crit AS (
        SELECT *,
               CAST(FLOOR(0.05 * rnk / m * 1000000) AS BIGINT) AS thr_e6
        FROM ranked
    ), kmax AS (
        SELECT COALESCE(MAX(CASE WHEN p_e6 <= thr_e6 THEN rnk END),
                        CAST(0 AS BIGINT)) AS k
        FROM crit
    )
    SELECT c.event_type, c.dow, c.n_cell, c.z_e4, c.p_e6, c.rnk,
           c.thr_e6,
           CAST(CASE WHEN c.rnk <= k.k THEN 1 ELSE 0 END AS BIGINT)
               AS rejected
    FROM crit c CROSS JOIN kmax k
    ORDER BY c.rnk
    """,
)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR step-up (round 9): when a pipeline
    screens MANY hypotheses at once — here the 5×7 family "does this
    event type's mean shift on this weekday?" — per-test α=.05 gives
    ~1.75 expected false alarms; Bonferroni over-corrects; BH controls
    the FALSE DISCOVERY RATE: sort p ascending, find the largest i
    with p_(i) ≤ α·i/m, reject that prefix. This is the standard
    multiple-testing gate on top of any per-segment anomaly screen
    (the agg_anova_oneway family, metric drift dashboards).

    Cross-engine p-values without erf in either engine: z floors to
    e4 FIRST (both engines then feed the identical rational number),
    and the two-sided normal p = 1-erf(|z|/√2) is the Abramowitz-
    Stegun 7.1.26 polynomial — Horner in t = 1/(1+0.3275911·x) times
    exp(-x²), |err| ≤ 1.5e-7, spelled with the same literals and the
    same association order in both engines (the literal-coefficient
    periodogram discipline), floored at e6. Both sides of the BH
    comparison are FLOORED integers (p_e6 vs ⌊α·i/m·1e6⌋), so the
    step-up decision is integer-exact; dayofweek uses the
    agg_partial_correlation 0=Sunday parity shift.

    Scale: two keyed partial aggregates (cell + type) on one scan,
    broadcast-joined; the step-up runs on the 35-row pre-reduced
    family (window-warn budgeted), never on row-scale data."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4"),
    )
    cell = base.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("n_cell"),
        F.sum("v_e4").cast("bigint").alias("s_cell"),
    )
    typ = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_t"),
        F.sum("v_e4").cast("bigint").alias("s_t"),
        F.sum(F.col("v_e4") * F.col("v_e4")).cast("bigint").alias("ss_t"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var_t = (d("ss_t") - d("s_t") * d("s_t") / d("n_t")) / (d("n_t") - 1.0)
    z = cell.join(F.broadcast(typ), "event_type").select(
        "event_type",
        "dow",
        "n_cell",
        F.floor(
            (d("s_cell") / d("n_cell") - d("s_t") / d("n_t"))
            / F.sqrt(var_t / d("n_cell"))
            * 10000
        )
        .cast("bigint")
        .alias("z_e4"),
    )
    # identical A&S 7.1.26 chain: x from the FLOORED z, Horner poly
    x = F.abs(F.col("z_e4")).cast("double") / 10000.0 / 1.4142135623730951
    t = 1.0 / (1.0 + 0.3275911 * x)
    horner = t * (
        0.254829592
        + t
        * (
            -0.284496736
            + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))
        )
    )
    p = z.withColumn(
        "p_e6",
        F.floor(horner * F.exp(-x * x) * 1000000).cast("bigint"),
    )
    w_rank = Window.orderBy("p_e6", "event_type", "dow")
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        p.withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .withColumn("m", F.count("*").over(w_all).cast("bigint"))
        .withColumn(
            "thr_e6",
            F.floor(F.lit(0.05) * F.col("rnk") / F.col("m") * 1000000)
            .cast("bigint"),
        )
    )
    kmax = F.coalesce(
        F.max(
            F.when(F.col("p_e6") <= F.col("thr_e6"), F.col("rnk"))
        ).over(w_all),
        F.lit(0).cast("bigint"),
    )
    return ranked.select(
        "event_type",
        "dow",
        "n_cell",
        "z_e4",
        "p_e6",
        "rnk",
        "thr_e6",
        F.when(F.col("rnk") <= kmax, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejected"),
    ).orderBy("rnk")


@query(
    "agg_grubbs_outlier",
    """
    WITH base AS (
        SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4
        FROM events
    ), stats AS (
        SELECT event_type, v_e4,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n,
               CAST(SUM(v_e4) OVER (PARTITION BY event_type) AS BIGINT)
                   AS s,
               CAST(SUM(v_e4 * v_e4) OVER (PARTITION BY event_type)
                    AS BIGINT) AS ss
        FROM base
    ), dev AS (
        SELECT *, ABS(n * v_e4 - s) AS d,
               MAX(ABS(n * v_e4 - s))
                   OVER (PARTITION BY event_type) AS maxdev
        FROM stats
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN d = maxdev THEN v_e4 END) AS BIGINT)
               AS outlier_e4,
           CAST(FLOOR((CAST(MAX(maxdev) AS DOUBLE) / MAX(n))
                      / sqrt((CAST(MAX(ss) AS DOUBLE)
                              - CAST(MAX(s) AS DOUBLE)
                                * CAST(MAX(s) AS DOUBLE) / MAX(n))
                             / (MAX(n) - 1.0))
                      * 10000) AS BIGINT) AS g_e4
    FROM dev
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRUBBS maximum-studentized-deviation screen (round 9): per
    group, G = max|v − mean|/sd — the classic single-outlier test
    statistic, and the right readout for a metrics pipeline's "worst
    point per segment" dashboard: WHICH value is most extreme and HOW
    many sds out it sits (G > ~4 on thousands of rows is a data bug,
    not a tail). Complements ts_outlier_mad (robust, per-window) and
    ts_zscore_anomaly (time-ordered): Grubbs is the group-global
    worst-case certificate.

    Exactness: |v − s/n| is maximized exactly where the INTEGER
    |n·v − s| is (n never divides until the final chain), so the
    argmax is integer-exact with a min-value tie-break; G floors
    through one double chain from integer (maxdev, n, s, ss).

    Scale: one keyed window pass (partitioned by group — no global
    window) + one keyed aggregate; six integers of state per group,
    map-side combinable in the agg step. The window is row-scale but
    key-partitioned; with heavy group skew the two-pass agg+join
    form trades the window for a broadcast join (the
    agg_benjamini_hochberg shape)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4"),
    )
    w_t = Window.partitionBy("event_type")
    stats = base.select(
        "event_type",
        "v_e4",
        F.count("*").over(w_t).cast("bigint").alias("n"),
        F.sum("v_e4").over(w_t).cast("bigint").alias("s"),
        F.sum(F.col("v_e4") * F.col("v_e4"))
        .over(w_t)
        .cast("bigint")
        .alias("ss"),
    )
    dev = stats.select(
        "*",
        F.abs(F.col("n") * F.col("v_e4") - F.col("s")).alias("d"),
    ).withColumn(
        "maxdev",
        F.max(F.abs(F.col("n") * F.col("v_e4") - F.col("s"))).over(w_t),
    )
    dd = lambda c: F.max(c).cast("double")  # noqa: E731
    g = (
        (dd("maxdev") / F.max("n"))
        / F.sqrt(
            (dd("ss") - dd("s") * dd("s") / F.max("n"))
            / (F.max("n") - 1.0)
        )
        * 10000
    )
    return (
        dev.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.min(F.when(F.col("d") == F.col("maxdev"), F.col("v_e4")))
            .cast("bigint")
            .alias("outlier_e4"),
            F.floor(g).cast("bigint").alias("g_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_cronbach_alpha",
    """
    WITH base AS (
        SELECT user_id, event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS v_e2
        FROM events
    ), items AS (
        SELECT event_type, user_id, CAST(SUM(v_e2) AS BIGINT) AS x
        FROM base GROUP BY event_type, user_id
    ), u AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
        FROM base
    ), item_num AS (
        SELECT SUM(nm) AS sum_item_num
        FROM (
            SELECT (SELECT n_users FROM u) * SUM(x * x)
                   - SUM(x) * SUM(x) AS nm
            FROM items GROUP BY event_type
        )
    ), totals AS (
        SELECT user_id, CAST(SUM(x) AS BIGINT) AS t
        FROM items GROUP BY user_id
    ), total_num AS (
        SELECT (SELECT n_users FROM u) * SUM(t * t)
               - SUM(t) * SUM(t) AS tot_num
        FROM totals
    )
    SELECT u.k, u.n_users,
           CAST(FLOOR(CAST(u.k AS DOUBLE) / (u.k - 1.0)
                      * (1.0 - CAST(i.sum_item_num AS DOUBLE)
                               / CAST(t.tot_num AS DOUBLE))
                      * 1000000) AS BIGINT) AS alpha_e6
    FROM u, item_num i, total_num t
    """,
)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRONBACH'S ALPHA internal-consistency coefficient (round 9):
    treat each event type as an "item" scoring each user (the user's
    summed value for that type, 0 when absent), and α = k/(k−1) ·
    (1 − Σᵢvarᵢ / var_total) asks whether the k per-type scores
    move together across users — the reliability check behind any
    composite engagement index ("can I sum these five signals into
    one score?"). α near 1 = the items co-vary (a coherent scale);
    near 0 = summing them mixes unrelated quantities.

    Exactness is STRUCTURAL, no float discipline needed: with U =
    all users, each variance's numerator U·Σx² − (Σx)² is exact
    (absent user-item cells contribute 0 to both sums — no grid
    densification needed), the shared denominator U(U−1) cancels in
    Σvarᵢ/var_total, and α floors through the only double chain.
    The numerators grow as U²·σ² — past int64 at even sf0.01 — so
    BOTH engines do them in 128-bit integers: DuckDB promotes SUM to
    hugeint natively, Spark runs the products in decimal(38,0) (the
    agg_decimal_exact lane); the final double casts round the same
    128-bit integer to the same double on both sides.

    Scale: two keyed aggregates ((type,user) then type / then user),
    both map-side combinable; 1-row finish via broadcast scalar
    anchors. decimal(38,0) holds to ~1e38 — Σ(Σv)² at 1e9 users
    × e2 quanta sits near 1e27, comfortably inside."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("v_e2"),
    )
    items = base.groupBy("event_type", "user_id").agg(
        F.sum("v_e2").cast("bigint").alias("x")
    )
    u = base.groupBy().agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.countDistinct("event_type").cast("bigint").alias("k"),
    )
    dec = "decimal(38,0)"
    xd = F.col("x").cast(dec)
    per_item = items.groupBy("event_type").agg(
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd).alias("sx"),
    )
    item_num = (
        per_item.crossJoin(F.broadcast(u))
        .select(
            (
                F.col("n_users").cast(dec) * F.col("sxx")
                - F.col("sx") * F.col("sx")
            ).alias("nm")
        )
        .groupBy()
        .agg(F.sum("nm").alias("sum_item_num"))
    )
    totals = items.groupBy("user_id").agg(
        F.sum("x").cast("bigint").alias("t")
    )
    td = F.col("t").cast(dec)
    total_num = (
        totals.groupBy()
        .agg(F.sum(td * td).alias("stt"), F.sum(td).alias("st"))
        .crossJoin(F.broadcast(u))
        .select(
            (
                F.col("n_users").cast(dec) * F.col("stt")
                - F.col("st") * F.col("st")
            ).alias("tot_num")
        )
    )
    joined = (
        u.crossJoin(F.broadcast(item_num)).crossJoin(F.broadcast(total_num))
    )
    alpha = (
        F.col("k").cast("double")
        / (F.col("k") - 1.0)
        * (
            1.0
            - F.col("sum_item_num").cast("double")
            / F.col("tot_num").cast("double")
        )
        * 1000000
    )
    return joined.select(
        "k",
        "n_users",
        F.floor(alpha).cast("bigint").alias("alpha_e6"),
    )


@query(
    "agg_deming_regression",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS x,
               CAST(json_extract(props, '$.k') AS BIGINT) AS y
        FROM events
    ), m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(FLOOR(
               ((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                - (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                + sqrt(((CAST(n AS DOUBLE) * syy
                         - CAST(sy AS DOUBLE) * sy)
                        - (CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx))
                       * ((CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)
                          - (CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx))
                       + 4.0 * (CAST(n AS DOUBLE) * sxy
                                - CAST(sx AS DOUBLE) * sy)
                             * (CAST(n AS DOUBLE) * sxy
                                - CAST(sx AS DOUBLE) * sy)))
               / (2.0 * (CAST(n AS DOUBLE) * sxy
                         - CAST(sx AS DOUBLE) * sy))
               * 1000000) AS BIGINT) AS slope_e6,
           CAST(FLOOR(
               (CAST(sy AS DOUBLE) / n
                - ((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                   - (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   + sqrt(((CAST(n AS DOUBLE) * syy
                            - CAST(sy AS DOUBLE) * sy)
                           - (CAST(n AS DOUBLE) * sxx
                              - CAST(sx AS DOUBLE) * sx))
                          * ((CAST(n AS DOUBLE) * syy
                              - CAST(sy AS DOUBLE) * sy)
                             - (CAST(n AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sx))
                          + 4.0 * (CAST(n AS DOUBLE) * sxy
                                   - CAST(sx AS DOUBLE) * sy)
                                * (CAST(n AS DOUBLE) * sxy
                                   - CAST(sx AS DOUBLE) * sy)))
                  / (2.0 * (CAST(n AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy))
                  * (CAST(sx AS DOUBLE) / n)) * 10000) AS BIGINT)
               AS intercept_e4
    FROM m
    WHERE CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy <> 0
    ORDER BY event_type
    """,
)
def agg_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEMING (errors-in-variables) regression (round 9), δ=1: when
    BOTH variables carry measurement error — here each event's value
    against its props.k tag — OLS of y on x is attenuated toward 0
    by the noise in x, and the two OLS directions disagree; Deming's
    slope (Syy − Sxx + √((Syy−Sxx)² + 4S²xy)) / 2Sxy is the maximum-
    likelihood line treating both sides symmetrically — the method-
    comparison standard (two instruments measuring one quantity).

    Exactness: the centered second moments enter as the integer
    forms n·Σxy − Σx·Σy etc. (cast once to double), and slope +
    intercept each floor through ONE literal-ordered chain; groups
    where Sxy = 0 (slope undefined) are filtered identically in both
    engines. JSON parity: props.k extracts via get_json_object /
    json_extract to the same integer.

    Scale: six integer sums per group, map-side combinable — the
    agg_regr_trend shape with a second noisy axis."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
        F.get_json_object("props", "$.k").cast("bigint").alias("y"),
    )
    m = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    syy_c = d("n") * F.col("syy") - d("sy") * F.col("sy")
    sxx_c = d("n") * F.col("sxx") - d("sx") * F.col("sx")
    sxy_c = d("n") * F.col("sxy") - d("sx") * F.col("sy")
    slope = (
        (syy_c - sxx_c)
        + F.sqrt((syy_c - sxx_c) * (syy_c - sxx_c) + 4.0 * sxy_c * sxy_c)
    ) / (2.0 * sxy_c)
    intercept = d("sy") / F.col("n") - slope * (d("sx") / F.col("n"))
    return (
        m.filter(sxy_c != 0)
        .select(
            "event_type",
            "n",
            F.floor(slope * 1000000).cast("bigint").alias("slope_e6"),
            F.floor(intercept * 10000).cast("bigint").alias("intercept_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_price_index_fisher",
    """
    WITH base AS (
        SELECT l_partkey AS part,
               CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
                    THEN 0 ELSE 1 END AS period,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS ep_c,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ), pp AS (
        SELECT part, period,
               CAST(SUM(ep_c) AS BIGINT) AS sep,
               CAST(SUM(qty) AS BIGINT) AS sq
        FROM base GROUP BY part, period
    ), matched AS (
        SELECT p0.part,
               p0.sep AS sep0, p0.sq AS sq0,
               p1.sep AS sep1, p1.sq AS sq1
        FROM pp p0 JOIN pp p1
          ON p0.part = p1.part AND p0.period = 0 AND p1.period = 1
    ), terms AS (
        SELECT part,
               CAST(FLOOR(CAST(sep1 AS DOUBLE) / sq1 * sq0 * 100)
                    AS BIGINT) AS p1q0_c2,
               CAST(sep0 * 100 AS BIGINT) AS p0q0_c2,
               CAST(sep1 * 100 AS BIGINT) AS p1q1_c2,
               CAST(FLOOR(CAST(sep0 AS DOUBLE) / sq0 * sq1 * 100)
                    AS BIGINT) AS p0q1_c2
        FROM matched
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(FLOOR(CAST(SUM(p1q0_c2) AS DOUBLE) / SUM(p0q0_c2)
                      * 1000000) AS BIGINT) AS laspeyres_e6,
           CAST(FLOOR(CAST(SUM(p1q1_c2) AS DOUBLE) / SUM(p0q1_c2)
                      * 1000000) AS BIGINT) AS paasche_e6,
           CAST(FLOOR(sqrt((CAST(SUM(p1q0_c2) AS DOUBLE) / SUM(p0q0_c2))
                           * (CAST(SUM(p1q1_c2) AS DOUBLE)
                              / SUM(p0q1_c2)))
                      * 1000000) AS BIGINT) AS fisher_e6
    FROM terms
    """,
)
def agg_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE INDEX numbers (round 9) — Laspeyres, Paasche, Fisher —
    the national-accounts workhorses, computed as unit-value indices
    over the two shipdate periods (pre/post 1998) on parts traded in
    BOTH: Laspeyres Σp₁q₀/Σp₀q₀ weights by old baskets (overstates
    inflation under substitution), Paasche Σp₁q₁/Σp₀q₁ by new
    (understates), Fisher's ideal index is their geometric mean —
    the standard readout for "how did effective prices move?" on
    any priced-transaction feed.

    Exactness: per (part,period) unit values come from integer cent
    and quantity sums; the two cross terms p₁q₀/p₀q₁ floor per part
    at centi-cent precision BEFORE the integer Σ over parts (the
    order-free-sum discipline); the matched-parts inner join is the
    same set in both engines; three final floors, one sqrt.

    Scale: one keyed (part,period) aggregate (map-side combinable),
    a self-join on part (co-partitioned, 2 rows per key), and a
    1-row finish — no windows, no broadcast-scale risk since the
    pair join is keyed on the aggregation key it just produced."""
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_partkey").alias("part"),
        F.when(F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"), 0)
        .otherwise(1)
        .alias("period"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("ep_c"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    pp = base.groupBy("part", "period").agg(
        F.sum("ep_c").cast("bigint").alias("sep"),
        F.sum("qty").cast("bigint").alias("sq"),
    )
    p0 = pp.filter(F.col("period") == 0).select(
        "part",
        F.col("sep").alias("sep0"),
        F.col("sq").alias("sq0"),
    )
    p1 = pp.filter(F.col("period") == 1).select(
        "part",
        F.col("sep").alias("sep1"),
        F.col("sq").alias("sq1"),
    )
    both = p0.join(p1, "part")
    terms = both.select(
        "part",
        F.floor(
            F.col("sep1").cast("double") / F.col("sq1") * F.col("sq0") * 100
        )
        .cast("bigint")
        .alias("p1q0_c2"),
        (F.col("sep0") * 100).cast("bigint").alias("p0q0_c2"),
        (F.col("sep1") * 100).cast("bigint").alias("p1q1_c2"),
        F.floor(
            F.col("sep0").cast("double") / F.col("sq0") * F.col("sq1") * 100
        )
        .cast("bigint")
        .alias("p0q1_c2"),
    )
    lasp = F.sum("p1q0_c2").cast("double") / F.sum("p0q0_c2")
    paas = F.sum("p1q1_c2").cast("double") / F.sum("p0q1_c2")
    return terms.groupBy().agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.floor(lasp * 1000000).cast("bigint").alias("laspeyres_e6"),
        F.floor(paas * 1000000).cast("bigint").alias("paasche_e6"),
        F.floor(F.sqrt(lasp * paas) * 1000000)
        .cast("bigint")
        .alias("fisher_e6"),
    )


@query(
    "agg_tail_dependence",
    """
    WITH base AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS x,
               CAST(json_extract(props, '$.k') AS BIGINT) AS y
        FROM events
    ), q AS (
        SELECT CAST(quantile_disc(x, 0.95) AS BIGINT) AS qxu,
               CAST(quantile_disc(y, 0.95) AS BIGINT) AS qyu,
               CAST(quantile_disc(x, 0.05) AS BIGINT) AS qxl,
               CAST(quantile_disc(y, 0.05) AS BIGINT) AS qyl,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base
    )
    SELECT q.n, q.qxu AS qx_hi_e4, q.qyu AS qy_hi, q.qxl AS qx_lo_e4,
           q.qyl AS qy_lo,
           CAST(COUNT(*) FILTER (b.y > q.qyu) AS BIGINT) AS n_y_hi,
           CAST(COUNT(*) FILTER (b.x > q.qxu AND b.y > q.qyu) AS BIGINT)
               AS n_both_hi,
           CAST(COUNT(*) FILTER (b.y < q.qyl) AS BIGINT) AS n_y_lo,
           CAST(COUNT(*) FILTER (b.x < q.qxl AND b.y < q.qyl) AS BIGINT)
               AS n_both_lo,
           CAST(CASE WHEN COUNT(*) FILTER (b.y > q.qyu) = 0 THEN 0
                ELSE FLOOR(CAST(COUNT(*) FILTER (b.x > q.qxu
                                AND b.y > q.qyu) AS DOUBLE)
                           / COUNT(*) FILTER (b.y > q.qyu) * 1000000)
                END AS BIGINT) AS lambda_u_e6,
           CAST(CASE WHEN COUNT(*) FILTER (b.y < q.qyl) = 0 THEN 0
                ELSE FLOOR(CAST(COUNT(*) FILTER (b.x < q.qxl
                                AND b.y < q.qyl) AS DOUBLE)
                           / COUNT(*) FILTER (b.y < q.qyl) * 1000000)
                END AS BIGINT) AS lambda_l_e6
    FROM base b, q
    GROUP BY q.n, q.qxu, q.qyu, q.qxl, q.qyl
    """,
)
def agg_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL TAIL DEPENDENCE (round 9): correlation answers "do
    X and Y move together on average?" — risk asks "do they spike
    TOGETHER?" The upper tail-dependence coefficient λ_U =
    P(X > q95(X) | Y > q95(Y)) (and λ_L for the lower tail) is the
    copula-level answer: under independence λ ≈ 0.05; λ near 1 means
    joint extremes (the failure mode diversification does not save
    you from). Complements agg_corr_exact / agg_partial_correlation
    with the extremes-only view on (value, props.k).

    Exactness: thresholds are PERCENTILE_DISC integers (actual
    data), tail membership is integer comparison, both λs floor once
    from exact counts — no float discipline needed beyond the one
    division.

    Scale: one discrete-quantile pass, one broadcast threshold
    anchor, one conditional-count aggregate — the ts_pot_gpd_moments
    two-pass shape with a second axis."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
        F.get_json_object("props", "$.k").cast("bigint").alias("y"),
    )
    q = base.agg(
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY x)")
        .cast("bigint")
        .alias("qxu"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY y)")
        .cast("bigint")
        .alias("qyu"),
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY x)")
        .cast("bigint")
        .alias("qxl"),
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY y)")
        .cast("bigint")
        .alias("qyl"),
        F.count("*").cast("bigint").alias("n"),
    )
    j = base.crossJoin(F.broadcast(q))
    n_y_hi = F.count_if(F.col("y") > F.col("qyu"))
    n_both_hi = F.count_if(
        (F.col("x") > F.col("qxu")) & (F.col("y") > F.col("qyu"))
    )
    n_y_lo = F.count_if(F.col("y") < F.col("qyl"))
    n_both_lo = F.count_if(
        (F.col("x") < F.col("qxl")) & (F.col("y") < F.col("qyl"))
    )
    return j.groupBy("n", "qxu", "qyu", "qxl", "qyl").agg(
        n_y_hi.cast("bigint").alias("n_y_hi"),
        n_both_hi.cast("bigint").alias("n_both_hi"),
        n_y_lo.cast("bigint").alias("n_y_lo"),
        n_both_lo.cast("bigint").alias("n_both_lo"),
        F.when(n_y_hi == 0, F.lit(0))
        .otherwise(
            F.floor(n_both_hi.cast("double") / n_y_hi * 1000000)
        )
        .cast("bigint")
        .alias("lambda_u_e6"),
        F.when(n_y_lo == 0, F.lit(0))
        .otherwise(
            F.floor(n_both_lo.cast("double") / n_y_lo * 1000000)
        )
        .cast("bigint")
        .alias("lambda_l_e6"),
    ).select(
        F.col("n"),
        F.col("qxu").alias("qx_hi_e4"),
        F.col("qyu").alias("qy_hi"),
        F.col("qxl").alias("qx_lo_e4"),
        F.col("qyl").alias("qy_lo"),
        "n_y_hi",
        "n_both_hi",
        "n_y_lo",
        "n_both_lo",
        "lambda_u_e6",
        "lambda_l_e6",
    )


_KM1D_ITERS = 3


def _kmeans_1d_oracle_sql() -> str:
    sql = """
    WITH base AS MATERIALIZED (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v FROM events
    ), c0 AS (
        SELECT CAST(quantile_disc(v, 0.25) AS BIGINT) AS c1,
               CAST(quantile_disc(v, 0.75) AS BIGINT) AS c2
        FROM base
    )"""
    prev = "c0"
    for i in range(1, _KM1D_ITERS + 1):
        sql += f""", a{i} AS MATERIALIZED (
        SELECT b.v,
               CASE WHEN ABS(b.v - c.c1) <= ABS(b.v - c.c2)
                    THEN 1 ELSE 2 END AS cl
        FROM base b, {prev} c
    ), c{i} AS (
        SELECT CAST(FLOOR(CAST(SUM(CASE WHEN cl = 1 THEN v END)
                               AS DOUBLE)
                          / COUNT(CASE WHEN cl = 1 THEN 1 END))
                    AS BIGINT) AS c1,
               CAST(FLOOR(CAST(SUM(CASE WHEN cl = 2 THEN v END)
                               AS DOUBLE)
                          / COUNT(CASE WHEN cl = 2 THEN 1 END))
                    AS BIGINT) AS c2
        FROM a{i}
    )"""
        prev = f"c{i}"
    k = _KM1D_ITERS
    sql += f"""
    SELECT CAST({k} AS BIGINT) AS iters, c.c1 AS c1_e4, c.c2 AS c2_e4,
           CAST(COUNT(CASE WHEN ABS(b.v - c.c1) <= ABS(b.v - c.c2)
                      THEN 1 END) AS BIGINT) AS n1,
           CAST(COUNT(CASE WHEN ABS(b.v - c.c1) > ABS(b.v - c.c2)
                      THEN 1 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN ABS(b.v - c.c1) <= ABS(b.v - c.c2)
                    THEN (b.v - c.c1) * (b.v - c.c1)
                    ELSE (b.v - c.c2) * (b.v - c.c2) END) AS BIGINT)
               AS inertia_e8
    FROM base b, c{k} c
    GROUP BY c.c1, c.c2
    """
    return sql


@query("agg_kmeans_1d_bounded", _kmeans_1d_oracle_sql())
def agg_kmeans_1d_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D K-MEANS, two clusters, bounded Lloyd iterations (round
    9): the canonical "split this metric into low/high regimes"
    operator (bimodal latency, price bands, engagement tiers) —
    initialize at the discrete quartiles, then 3 rounds of
    assign-to-nearest / recompute-floored-means, reporting final
    centers, cluster sizes and exact inertia. The iterative-
    algorithm family's simplest member (components → pagerank →
    hits → spectral norm → k-means), and the only one that needs NO
    float discipline at all.

    Exactness is total: initialization is PERCENTILE_DISC (an actual
    datum); assignment compares integer distances (ties to the lower
    cluster); each new center is the FLOORED integer mean; inertia
    is an exact bigint. Both engines iterate identical integers —
    the unrolled-CTE oracle replays every round.

    Scale: each round is one broadcast of the 2-integer state + one
    map-side-combinable conditional aggregate over the scan —
    exactly k·iters counters of state; localCheckpoint truncates
    lineage per round (the graph_hits_bounded shape)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v")
    ).localCheckpoint()
    c = base.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("c1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("c2"),
    )
    for _ in range(_KM1D_ITERS):
        assigned = base.crossJoin(F.broadcast(c)).select(
            "v",
            F.when(
                F.abs(F.col("v") - F.col("c1"))
                <= F.abs(F.col("v") - F.col("c2")),
                1,
            )
            .otherwise(2)
            .alias("cl"),
        )
        c = assigned.agg(
            F.floor(
                F.sum(F.when(F.col("cl") == 1, F.col("v"))).cast("double")
                / F.count(F.when(F.col("cl") == 1, F.lit(1)))
            )
            .cast("bigint")
            .alias("c1"),
            F.floor(
                F.sum(F.when(F.col("cl") == 2, F.col("v"))).cast("double")
                / F.count(F.when(F.col("cl") == 2, F.lit(1)))
            )
            .cast("bigint")
            .alias("c2"),
        ).localCheckpoint()
    final = base.crossJoin(F.broadcast(c))
    near1 = F.abs(F.col("v") - F.col("c1")) <= F.abs(F.col("v") - F.col("c2"))
    return final.groupBy("c1", "c2").agg(
        F.lit(_KM1D_ITERS).cast("bigint").alias("iters"),
        F.count(F.when(near1, F.lit(1))).cast("bigint").alias("n1"),
        F.count(F.when(~near1, F.lit(1))).cast("bigint").alias("n2"),
        F.sum(
            F.when(
                near1, (F.col("v") - F.col("c1")) * (F.col("v") - F.col("c1"))
            ).otherwise(
                (F.col("v") - F.col("c2")) * (F.col("v") - F.col("c2"))
            )
        )
        .cast("bigint")
        .alias("inertia_e8"),
    ).select("iters", F.col("c1").alias("c1_e4"), F.col("c2").alias("c2_e4"),
             "n1", "n2", "inertia_e8")


@query(
    "agg_gamma_fit_moments",
    """
    WITH base AS (
        SELECT o_orderpriority AS priority,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), m AS (
        SELECT priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               SUM(CAST(cents AS HUGEINT) * cents) AS q
        FROM base GROUP BY priority
    )
    SELECT priority, n,
           CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT) AS mean_cents,
           CAST(FLOOR(CAST(CAST(s AS HUGEINT) * s * (n - 1) AS DOUBLE)
                      / CAST(n * (n * q - CAST(s AS HUGEINT) * s)
                             AS DOUBLE)
                      * 1000000) AS BIGINT) AS shape_e6,
           CAST(FLOOR(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                      / CAST((n - 1) * CAST(s AS HUGEINT) AS DOUBLE))
                AS BIGINT) AS theta_cents
    FROM m ORDER BY priority
    """,
)
def agg_gamma_fit_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAMMA-distribution fit by method of moments (round 9) — the
    parametric summary for positive right-skewed totals the normal
    family misrepresents: per priority class, k̂ = mean²/var (shape:
    k<1 hyper-dispersed, k→∞ normal-like) and θ̂ = var/mean (scale,
    in cents).  The fit downstreams into tail pricing (Gamma
    quantiles for SLA bounds) and is the standard first model for
    order-value distributions; agg_stats gives the same moments
    unshaped, agg_hill_tail_index covers the power-law alternative —
    k̂ is the statistic that ARBITRATES between them.

    Exactness is STRUCTURAL (the Cronbach lane): with integral
    cents, S = Σx and Q = Σx² are exact 128-bit integers (DuckDB
    hugeint, Spark decimal(38,0) — S² passes int64 already at
    sf0.01); mean²/var and var/mean clear to ratios of exact
    integers — S²(n−1) / (n(nQ−S²)) and (nQ−S²)/((n−1)S) — and each
    readout is ONE double division floored once; both engines round
    the same 128-bit integers to the same doubles.

    Scale: one keyed aggregate, fully map-side combinable; the
    5-row moment table finishes driver-free."""
    o = load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cd = F.col("cents").cast(dec)
    m = base.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(cd * cd).alias("q"),
    )
    nd = F.col("n").cast(dec)
    sd = F.col("s").cast(dec)
    var_num = nd * F.col("q") - sd * sd
    return m.select(
        "priority",
        "n",
        F.floor(F.col("s").cast("double") / F.col("n"))
        .cast("bigint")
        .alias("mean_cents"),
        F.floor(
            (sd * sd * (nd - 1)).cast("double")
            / (nd * var_num).cast("double")
            * 1000000
        )
        .cast("bigint")
        .alias("shape_e6"),
        F.floor(
            var_num.cast("double") / ((nd - 1) * sd).cast("double")
        )
        .cast("bigint")
        .alias("theta_cents"),
    ).orderBy("priority")


@query(
    "agg_mutual_information",
    """
    WITH cells AS (
        SELECT event_type,
               CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS daypart,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, FLOOR(hour(ts) / 6)
    ), marg AS (
        SELECT event_type, daypart, c,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS r_i,
               CAST(SUM(c) OVER (PARTITION BY daypart) AS BIGINT) AS c_j,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM cells
    ), terms AS (
        SELECT event_type, daypart, c,
               CAST(FLOOR(CAST(c AS DOUBLE) / n
                          * ln(CAST(c AS DOUBLE) * n
                               / (CAST(r_i AS DOUBLE) * c_j))
                          * 1000000000) AS BIGINT) AS term_e9
        FROM marg
    )
    SELECT event_type, daypart, c, term_e9,
           CAST(SUM(term_e9) OVER () AS BIGINT) AS mi_sum_e9
    FROM terms
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION between event type and daypart (round 9) —
    the dependence number that completes the categorical-association
    family: chi-square tests WHETHER the contingency table deviates,
    Cramér's V normalizes the deviation, MI measures it in NATS on
    the same scale as agg_entropy/agg_kl_divergence — I(X;Y) =
    Σ p_ij·ln(p_ij/(p_i·p_j)) is exactly the KL divergence of the
    joint from independence, so the feature-selection and
    mixture-confounding readouts that threshold on nats can compare
    it directly against the drift numbers.

    Per-cell discipline mirrors agg_kl_divergence: counts and
    margins exact bigints over the (type × daypart) cell table; each
    cell's p·ln(pn²/(r·c)) evaluates in ONE double expression both
    engines run identically, floored e9 BEFORE the order-free bigint
    total.  Empty cells never materialize (0·ln 0 = 0 is their
    correct contribution, delivered structurally by GROUP BY).

    Scale: one map-side-combinable count to |types|×4 cells;
    margins and terms run entirely on the cell table."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.floor(F.hour("ts") / 6).cast("bigint").alias("daypart"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_i = Window.partitionBy("event_type")
    w_j = Window.partitionBy("daypart")
    w_all = Window.partitionBy()
    marg = cells.select(
        "event_type",
        "daypart",
        "c",
        F.sum("c").over(w_i).cast("bigint").alias("r_i"),
        F.sum("c").over(w_j).cast("bigint").alias("c_j"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    term = F.floor(
        F.col("c").cast("double")
        / F.col("n")
        * F.log(
            F.col("c").cast("double")
            * F.col("n")
            / (F.col("r_i").cast("double") * F.col("c_j"))
        )
        * 1000000000
    ).cast("bigint")
    terms = marg.select("event_type", "daypart", "c", term.alias("term_e9"))
    return terms.select(
        "event_type",
        "daypart",
        "c",
        "term_e9",
        F.sum("term_e9").over(w_all).cast("bigint").alias("mi_sum_e9"),
    )


@query(
    "agg_negative_binomial_fit",
    """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               SUM(CAST(v AS HUGEINT) * v) AS q
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(FLOOR(CAST(s AS DOUBLE) / n * 1000000) AS BIGINT)
               AS mean_e6,
           CAST(FLOOR(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                      / CAST(n * (n - 1) AS DOUBLE) * 1000000) AS BIGINT)
               AS var_e6,
           CASE WHEN n * q - CAST(s AS HUGEINT) * s - (n - 1) * s > 0
                THEN CAST(FLOOR(
                    CAST(CAST(s AS HUGEINT) * s * (n - 1) AS DOUBLE)
                    / CAST(n * (n * q - CAST(s AS HUGEINT) * s
                                - (n - 1) * s) AS DOUBLE)
                    * 1000000) AS BIGINT)
                ELSE NULL END AS r_e6,
           CAST(FLOOR(CAST(CAST(s AS HUGEINT) * (n - 1) AS DOUBLE)
                      / CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                      * 1000000) AS BIGINT) AS p_e6,
           CAST(CASE WHEN n * q - CAST(s AS HUGEINT) * s
                          - (n - 1) * s > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
    FROM m ORDER BY event_type
    """,
)
def agg_negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE-BINOMIAL fit of daily event counts by method of
    moments (round 9) — the count-model step after
    agg_poisson_dispersion says "overdispersed": NB(r, p) with
    r̂ = mean²/(var−mean) (small r = heavy clumping; r→∞ recovers
    Poisson) and p̂ = mean/var — the parameters capacity planning
    and anomaly thresholds consume (a Poisson P99 on clumped
    arrivals alarms constantly).  Under-dispersed series emit NULL
    r̂ with the flag down — the fit is undefined there, not zero
    (agg_gamma_fit_moments is the continuous twin).

    Exactness (the Cronbach/Gamma 128-bit lane): daily counts are
    exact integers; S, Q = Σv² in hugeint/decimal(38,0);
    r̂ = S²(n−1)/(n(nQ−S²−(n−1)S)), p̂ = S(n−1)/(nQ−S²), mean and
    sample variance all clear to ratios of exact 128-bit integers
    with ONE double division each; the overdispersion gate compares
    integers, never floats.

    Scale: keyed daily rollup (map-side combinable) then a
    |types|-row moment table — both shuffles on small keys."""
    ev = load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count("*").cast("bigint").alias("v"))
    vd = F.col("v").cast(dec)
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(vd * vd).alias("q"),
    )
    nd = F.col("n").cast(dec)
    sd = F.col("s").cast(dec)
    var_num = nd * F.col("q") - sd * sd
    disp_num = var_num - (nd - 1) * sd
    return m.select(
        "event_type",
        "n",
        F.floor(F.col("s").cast("double") / F.col("n") * 1000000)
        .cast("bigint")
        .alias("mean_e6"),
        F.floor(
            var_num.cast("double")
            / (F.col("n") * (F.col("n") - 1)).cast("double")
            * 1000000
        )
        .cast("bigint")
        .alias("var_e6"),
        F.when(
            disp_num > 0,
            F.floor(
                (sd * sd * (nd - 1)).cast("double")
                / (nd * disp_num).cast("double")
                * 1000000
            ).cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("r_e6"),
        F.floor(
            (sd * (nd - 1)).cast("double")
            / var_num.cast("double")
            * 1000000
        )
        .cast("bigint")
        .alias("p_e6"),
        F.when(disp_num > 0, 1).otherwise(0).cast("bigint").alias(
            "overdispersed"
        ),
    ).orderBy("event_type")


@query(
    "agg_lin_ccc",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS x,
               CAST(json_extract(props, '$.k') AS BIGINT) AS y
        FROM events
    ), m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(FLOOR(
               CAST(2 * (n * sxy - CAST(sx AS HUGEINT) * sy) AS DOUBLE)
               / CAST((n * sxx - CAST(sx AS HUGEINT) * sx)
                      + (n * syy - CAST(sy AS HUGEINT) * sy)
                      + (CAST(sx AS HUGEINT) - sy)
                        * (CAST(sx AS HUGEINT) - sy) AS DOUBLE)
               * 1000000) AS BIGINT) AS ccc_e6
    FROM m ORDER BY event_type
    """,
)
def agg_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIN'S CONCORDANCE CORRELATION COEFFICIENT (round 9) — the
    AGREEMENT number that closes the paired-measurement family:
    Pearson (agg_corr_exact) rewards any linear relation, Deming
    (agg_deming_regression) fits the relation; Lin's CCC asks
    whether two instruments report the SAME value — it penalizes
    both scatter AND systematic bias (scale or location shift), so
    y = 2x correlates perfectly but concords poorly.  The
    method-comparison standard before swapping one measurement
    source for another (sensor migration, model-v2 vs model-v1
    scores).  ρc = 2σxy / (σx² + σy² + (x̄−ȳ)²).

    Exactness (the Cronbach 128-bit lane): with the n² denominators
    cleared, numerator 2(nΣxy−SxSy) and denominator (nΣxx−Sx²) +
    (nΣyy−Sy²) + (Sx−Sy)² are exact 128-bit integers; ONE double
    division floors e6.

    Scale: one keyed moment aggregate, fully map-side combinable;
    |types|-row finish."""
    ev = load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
        F.get_json_object("props", "$.k").cast("bigint").alias("y"),
    )
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    m = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    nd = F.col("n").cast(dec)
    sxd, syd = F.col("sx").cast(dec), F.col("sy").cast(dec)
    num = 2 * (nd * F.col("sxy") - sxd * syd)
    den = (
        (nd * F.col("sxx") - sxd * sxd)
        + (nd * F.col("syy") - syd * syd)
        + (sxd - syd) * (sxd - syd)
    )
    return m.select(
        "event_type",
        "n",
        F.floor(num.cast("double") / den.cast("double") * 1000000)
        .cast("bigint")
        .alias("ccc_e6"),
    ).orderBy("event_type")


@query(
    "agg_jarque_bera",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS x
        FROM events
    ), m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               SUM(CAST(x AS HUGEINT) * x) AS s2,
               SUM(CAST(x AS HUGEINT) * x * x) AS s3,
               SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
        FROM base GROUP BY event_type
    ), a AS (
        SELECT event_type, n,
               CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS a2,
               CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
                   - 3.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
                         * CAST(s2 AS DOUBLE)
                   + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE) AS a3,
               CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * CAST(s4 AS DOUBLE)
                   - 4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
                   + 6.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS a4
        FROM m
    )
    SELECT event_type, n,
           CAST(FLOOR(a3 / pow(a2, 1.5) * 1000000) AS BIGINT) AS skew_e6,
           CAST(FLOOR(a4 / (a2 * a2) * 1000000) AS BIGINT) AS kurt_e6,
           CAST(FLOOR(CAST(n AS DOUBLE)
                      * ((a3 / pow(a2, 1.5)) * (a3 / pow(a2, 1.5)) / 6.0
                         + (a4 / (a2 * a2) - 3.0)
                           * (a4 / (a2 * a2) - 3.0) / 24.0)
                      * 1000000) AS BIGINT) AS jb_e6
    FROM a ORDER BY event_type
    """,
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARQUE-BERA normality test per group (round 9) — the gate in
    front of every normal-assuming consumer in the registry
    (agg_t_test_welch, agg_anova_oneway, the ±3σ control charts):
    JB = n·(g₁²/6 + (g₂−3)²/24) from sample skewness and kurtosis —
    large JB says the Gaussian machinery will lie, and the
    parametric-fit alternatives (agg_gamma_fit_moments,
    agg_negative_binomial_fit, agg_hill_tail_index) take over.
    agg_higher_moments REPORTS g₁/g₂; JB turns them into one
    thresholdable χ²(2) statistic.

    Exactness: power sums Σx..Σx⁴ are exact 128-bit integers
    (hugeint / decimal(38,0)); the n-cleared central-moment
    combinations A₂ = nΣx²−S₁², A₃, A₄ evaluate as literal-order
    double chains (the agg_deming_regression lane — skew = A₃/A₂^1.5
    and kurtosis = A₄/A₂² are n-free identities, so no large-n
    cancellation reshuffle exists), and each readout floors once.

    Scale: one keyed aggregate, fully map-side combinable;
    |types|-row finish.  Σx⁴ of e4-quantized values needs the
    128-bit lane from ~10⁴ rows — int64 was never an option."""
    ev = load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
    )
    xd = F.col("x").cast(dec)
    m = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(xd * xd).alias("s2"),
        F.sum(xd * xd * xd).alias("s3"),
        F.sum(xd * xd * xd * xd).alias("s4"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    a2 = d("n") * d("s2") - d("s1") * d("s1")
    a3 = (
        d("n") * d("n") * d("s3")
        - 3.0 * d("n") * d("s1") * d("s2")
        + 2.0 * d("s1") * d("s1") * d("s1")
    )
    a4 = (
        d("n") * d("n") * d("n") * d("s4")
        - 4.0 * d("n") * d("n") * d("s1") * d("s3")
        + 6.0 * d("n") * d("s1") * d("s1") * d("s2")
        - 3.0 * d("s1") * d("s1") * d("s1") * d("s1")
    )
    skew = a3 / F.pow(a2, 1.5)
    kurt = a4 / (a2 * a2)
    jb = d("n") * (skew * skew / 6.0 + (kurt - 3.0) * (kurt - 3.0) / 24.0)
    return m.select(
        "event_type",
        "n",
        F.floor(skew * 1000000).cast("bigint").alias("skew_e6"),
        F.floor(kurt * 1000000).cast("bigint").alias("kurt_e6"),
        F.floor(jb * 1000000).cast("bigint").alias("jb_e6"),
    ).orderBy("event_type")


# Second-digit Benford expectations P(d2=k) = Σ_{j=1..9} log10(1+1/(10j+k)),
# floored to e9 ONCE in Python and embedded as literals in BOTH programs
# (the ts_periodogram_peaks literal-coefficient discipline): a 9-term
# double sum inside either engine would be addition-order-dependent.
_BENFORD2_E9 = (
    119679268, 113890103, 108821499, 104329560, 100308202,
    96677235, 93374735, 90351989, 87570053, 84997352,
)


def _benford2_oracle_sql() -> str:
    values = ", ".join(f"({k}, {e})" for k, e in enumerate(_BENFORD2_E9))
    return f"""
    WITH expected(digit2, exp_e9) AS (VALUES {values}),
    digits AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 2, 1) AS BIGINT) AS digit2,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM orders
        WHERE length(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR)) >= 2
        GROUP BY 1
    ), tot AS (
        SELECT d.digit2, d.o, e.exp_e9,
               CAST(SUM(d.o) OVER () AS BIGINT) AS n
        FROM digits d JOIN expected e USING (digit2)
    ), terms AS (
        SELECT digit2, o, CAST(exp_e9 AS BIGINT) AS exp_e9,
               CAST(FLOOR(
                   (CAST(o AS DOUBLE)
                    - (CAST(n AS DOUBLE) * CAST(exp_e9 AS DOUBLE))
                      / 1000000000.0)
                   * (CAST(o AS DOUBLE)
                      - (CAST(n AS DOUBLE) * CAST(exp_e9 AS DOUBLE))
                        / 1000000000.0)
                   / ((CAST(n AS DOUBLE) * CAST(exp_e9 AS DOUBLE))
                      / 1000000000.0)
                   * 1000000) AS BIGINT) AS dev_e6
        FROM tot
    )
    SELECT digit2, o, exp_e9, dev_e6,
           CAST(SUM(dev_e6) OVER () AS BIGINT) AS chi2_sum_e6
    FROM terms"""


@query("agg_benford_second_digit", _benford2_oracle_sql())
def agg_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford SECOND-digit audit (round 9) — the forensic follow-up
    auditors run when the first-digit test passes: first digits are
    easy to fake plausibly (fraudsters know "more 1s than 9s"), the
    second-digit law P(d₂=k) = Σ_j log₁₀(1+1/(10j+k)) is flatter,
    less known, and catches rounding/pricing artifacts (psychological
    .99s, batch-generated amounts) that survive the first-digit
    screen.  Same readout shape as agg_benford_profile: per-digit
    observed vs expected, χ²-style deviations, grand total.

    Exactness: the second digit is STRING-truncated from exact
    integer cents (the first-digit lesson — no libm log10 on the
    extraction path); the ten expectations are PYTHON-floored e9
    literals shared by both programs (a 9-term double sum in-engine
    would be addition-order-dependent); each deviation runs one
    literal-order double chain floored e6.

    Scale: one map-side-combinable digit count; everything after
    runs on ten rows."""
    o = load(spark, sf_dir, "orders")
    cents_str = F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast(
        "string"
    )
    digits = (
        o.filter(F.length(cents_str) >= 2)
        .groupBy(
            F.substring(cents_str, 2, 1).cast("bigint").alias("digit2")
        )
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    exp_arr = F.array(*[F.lit(v) for v in _BENFORD2_E9])
    w_all = Window.partitionBy()
    tot = digits.select(
        "digit2",
        "o",
        F.element_at(exp_arr, (F.col("digit2") + 1).cast("int"))
        .cast("bigint")
        .alias("exp_e9"),
        F.sum("o").over(w_all).cast("bigint").alias("n"),
    )
    # expected count spelled (n·exp_e9)/1e9 — multiply FIRST: the
    # integer product n·exp_e9 ≤ 1.5e7·1.2e8 < 2^53 is EXACT in double,
    # so the chain carries one rounding instead of two, and the oracle
    # states the identical association (chain_lint canonical form —
    # the welch-df2 class can't reappear here).
    np_ = (
        F.col("n").cast("double") * F.col("exp_e9").cast("double")
    ) / 1000000000.0
    dev = (
        (F.col("o").cast("double") - np_)
        * (F.col("o").cast("double") - np_)
        / np_
        * 1000000
    )
    terms = tot.select(
        "digit2",
        "o",
        "exp_e9",
        F.floor(dev).cast("bigint").alias("dev_e6"),
    )
    return terms.select(
        "digit2",
        "o",
        "exp_e9",
        "dev_e6",
        F.sum("dev_e6").over(w_all).cast("bigint").alias("chi2_sum_e6"),
    )


@query(
    "agg_tukey_hsd",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS x
        FROM events
    ), g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               SUM(CAST(x AS HUGEINT) * x) AS q
        FROM base GROUP BY event_type
    ), msw AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                   / CAST(n AS DOUBLE)) AS ssw
        FROM g
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(FLOOR(ABS(CAST(a.s AS DOUBLE) / a.n
                          - CAST(b.s AS DOUBLE) / b.n)
                      / sqrt((m.ssw / (m.n_tot - m.k)) / 2.0
                             * (1.0 / a.n + 1.0 / b.n))
                      * 1000000) AS BIGINT) AS q_e6,
           CAST(CASE WHEN ABS(CAST(a.s AS DOUBLE) / a.n
                              - CAST(b.s AS DOUBLE) / b.n)
                          / sqrt((m.ssw / (m.n_tot - m.k)) / 2.0
                                 * (1.0 / a.n + 1.0 / b.n))
                          > 3.858 THEN 1 ELSE 0 END AS BIGINT)
               AS significant
    FROM g a JOIN g b ON a.event_type < b.event_type, msw m
    ORDER BY type_a, type_b
    """,
)
def agg_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY'S HSD post-hoc pairwise comparison (round 9) — the step
    AFTER agg_anova_oneway rejects: ANOVA says "SOME group differs",
    HSD says WHICH pairs, at a familywise error rate the naive
    10-pairwise-t's inflate to ~40%; the studentized-range statistic
    q = |x̄ᵢ−x̄ⱼ| / √(MSW/2·(1/nᵢ+1/nⱼ)) against the LITERAL critical
    value q(k=5, ∞, α=.05) = 3.858 (embedded constant — the critical
    surface is a table lookup, not a computation).

    Exactness: group moments exact 128-bit; each within-group sum of
    squares Q − S²/n evaluates 128-bit-exact then casts once; q and
    the threshold comparison run ONE literal-order double chain per
    pair (the Deming lane — the comparison is on the same chain both
    engines compute).

    Scale: one keyed moment aggregate; the pair join runs on the
    |types|-row group table — k(k−1)/2 rows, free at any SF."""
    ev = load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
    )
    xd = F.col("x").cast(dec)
    g = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(xd * xd).alias("q"),
    )
    # n·Q − S² is 128-bit exact; ONE cast then the two divisions in
    # literal order (the agg_levene_brown_forsythe float-sum shape) —
    # never a decimal division, whose scale rules differ per engine
    ssw_term = (
        (F.col("n").cast(dec) * F.col("q")
         - F.col("s").cast(dec) * F.col("s")).cast("double")
        / F.col("n").cast("double")
    )
    msw = g.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(ssw_term).alias("ssw"),
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("type_a") < F.col("type_b")
    ).crossJoin(F.broadcast(msw))
    gap = F.abs(
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    )
    se = F.sqrt(
        (F.col("ssw") / (F.col("n_tot") - F.col("k")))
        / 2.0
        * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.floor(gap / se * 1000000).cast("bigint").alias("q_e6"),
        F.when(gap / se > 3.858, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("significant"),
    ).orderBy("type_a", "type_b")


@query(
    "agg_woe_information_value",
    """
    WITH base AS (
        SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bucket,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events
    ), bins AS (
        SELECT bucket,
               CAST(COUNT(*) FILTER (pos = 1) AS BIGINT) AS n_pos,
               CAST(COUNT(*) FILTER (pos = 0) AS BIGINT) AS n_neg
        FROM base GROUP BY bucket
    ), tot AS (
        SELECT bucket, n_pos, n_neg,
               CAST(SUM(n_pos) OVER () AS BIGINT) AS pos_tot,
               CAST(SUM(n_neg) OVER () AS BIGINT) AS neg_tot,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_bins
        FROM bins
    ), terms AS (
        SELECT bucket, n_pos, n_neg,
               CAST(FLOOR(ln(((CAST(n_pos AS DOUBLE) + 0.5)
                              / (pos_tot + 0.5 * n_bins))
                             / ((CAST(n_neg AS DOUBLE) + 0.5)
                                / (neg_tot + 0.5 * n_bins)))
                          * 1000000000) AS BIGINT) AS woe_e9,
               CAST(FLOOR(((CAST(n_pos AS DOUBLE) + 0.5)
                           / (pos_tot + 0.5 * n_bins)
                           - (CAST(n_neg AS DOUBLE) + 0.5)
                             / (neg_tot + 0.5 * n_bins))
                          * ln(((CAST(n_pos AS DOUBLE) + 0.5)
                                / (pos_tot + 0.5 * n_bins))
                               / ((CAST(n_neg AS DOUBLE) + 0.5)
                                  / (neg_tot + 0.5 * n_bins)))
                          * 1000000000) AS BIGINT) AS iv_term_e9
        FROM tot
    )
    SELECT bucket, n_pos, n_neg, woe_e9, iv_term_e9,
           CAST(SUM(iv_term_e9) OVER () AS BIGINT) AS iv_sum_e9
    FROM terms ORDER BY bucket
    """,
)
def agg_woe_information_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHT-OF-EVIDENCE binning + INFORMATION VALUE (round 9) —
    the credit-scoring feature screen the correlation matrix can't
    replace for a BINARY target: per value bin, WOE = ln(share of
    positives / share of negatives) is the bin's evidence direction
    (the quantity scorecards add up), and IV = Σ(Δshare)·WOE ranks
    the whole feature — the standard gates read IV < 0.02 as useless
    and > 0.5 as suspiciously strong (leakage check).  Smoothing is
    add-½ per bin (Laplace on both margins), so empty-side bins
    stay finite.

    The per-term discipline is agg_kl_divergence's (WOE literally IS
    a per-bin log-likelihood-ratio): counts and margins exact
    bigints over the bin table; WOE and the IV term each evaluate in
    ONE literal-order double chain floored e9; the IV total is an
    order-free bigint window sum.

    Scale: one map-side-combinable conditional count to the bin
    table; everything after runs on ≤34 bins."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") / 10).cast("bigint").alias("bucket"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("pos"),
    )
    bins = base.groupBy("bucket").agg(
        F.count_if(F.col("pos") == 1).cast("bigint").alias("n_pos"),
        F.count_if(F.col("pos") == 0).cast("bigint").alias("n_neg"),
    )
    w_all = Window.partitionBy()
    tot = bins.select(
        "bucket",
        "n_pos",
        "n_neg",
        F.sum("n_pos").over(w_all).cast("bigint").alias("pos_tot"),
        F.sum("n_neg").over(w_all).cast("bigint").alias("neg_tot"),
        F.count("*").over(w_all).cast("bigint").alias("n_bins"),
    )
    p_pos = (F.col("n_pos").cast("double") + 0.5) / (
        F.col("pos_tot") + 0.5 * F.col("n_bins")
    )
    p_neg = (F.col("n_neg").cast("double") + 0.5) / (
        F.col("neg_tot") + 0.5 * F.col("n_bins")
    )
    woe = F.log(p_pos / p_neg)
    terms = tot.select(
        "bucket",
        "n_pos",
        "n_neg",
        F.floor(woe * 1000000000).cast("bigint").alias("woe_e9"),
        F.floor((p_pos - p_neg) * woe * 1000000000)
        .cast("bigint")
        .alias("iv_term_e9"),
    )
    return terms.select(
        "*",
        F.sum("iv_term_e9").over(w_all).cast("bigint").alias("iv_sum_e9"),
    ).orderBy("bucket")


@query(
    "agg_hill_numbers_diversity",
    """
    WITH counts AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type
    ), tot AS (
        SELECT event_type, c, CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM counts
    ), h AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(-(CAST(c AS DOUBLE) / n)
                             * ln(CAST(c AS DOUBLE) / n)
                             * 1000000000) AS BIGINT)) AS BIGINT)
                   AS h_e9,
               SUM(CAST(c AS HUGEINT) * c) AS c2
        FROM tot
    )
    SELECT k AS hill0, h_e9 AS shannon_h_e9,
           CAST(FLOOR(exp(CAST(h_e9 AS DOUBLE) / 1000000000.0) * 1000000)
                AS BIGINT) AS hill1_e6,
           CAST(FLOOR(CAST(CAST(n AS HUGEINT) * n AS DOUBLE)
                      / CAST(c2 AS DOUBLE) * 1000000) AS BIGINT)
               AS hill2_e6
    FROM h
    """,
)
def agg_hill_numbers_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HILL-NUMBER diversity spectrum ⁰D/¹D/²D (round 9) — the
    unification that puts the registry's three diversity readouts on
    ONE effective-species scale: ⁰D = richness (type count),
    ¹D = exp(Shannon H) (agg_entropy exponentiated), ²D = 1/Σp²
    (agg_simpson_diversity inverted) — all answering "how many
    EQUALLY-COMMON types would look like this?", so 5 types with
    ¹D = 4.97 reads instantly as near-uniform where H = 1.603 nats
    does not.  The ⁰D→²D decline rate is the rare-type-tail
    diagnostic corpus mixers read before rebalancing.

    Exactness: each −p·ln p term floors e9 (the KL single-term
    chain) and ¹D = exp of the already-quantized bigint sum — one
    more deterministic chain; ²D clears to n²/Σc², a ratio of exact
    128-bit integers, one floored division.

    Scale: one map-side count to |types| rows; scalars after."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_all = Window.partitionBy()
    tot = counts.select(
        "c", F.sum("c").over(w_all).cast("bigint").alias("n")
    )
    dec = "decimal(38,0)"
    p = F.col("c").cast("double") / F.col("n")
    h = tot.agg(
        F.count("*").cast("bigint").alias("k"),
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.floor(-p * F.log(p) * 1000000000).cast("bigint"))
        .cast("bigint")
        .alias("h_e9"),
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("c2"),
    )
    return h.select(
        F.col("k").alias("hill0"),
        F.col("h_e9").alias("shannon_h_e9"),
        F.floor(
            F.exp(F.col("h_e9").cast("double") / 1000000000.0) * 1000000
        )
        .cast("bigint")
        .alias("hill1_e6"),
        F.floor(
            (F.col("n").cast(dec) * F.col("n")).cast("double")
            / F.col("c2").cast("double")
            * 1000000
        )
        .cast("bigint")
        .alias("hill2_e6"),
    )


@query(
    "agg_friedman_page_trend",
    """
    WITH cells AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS blk,
               CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS trt,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT blk, trt,
               2 * RANK() OVER (PARTITION BY blk ORDER BY c)
                   + COUNT(*) OVER (PARTITION BY blk, c) - 1 AS r2
        FROM cells
    ), sums AS (
        SELECT trt,
               CAST(SUM(r2) AS BIGINT) AS r2_sum,
               CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM ranked GROUP BY trt
    ), fin AS (
        SELECT trt, r2_sum,
               CAST(MAX(n_blocks) OVER () AS BIGINT) AS n,
               CAST(COUNT(*) OVER () AS BIGINT) AS k,
               CAST(SUM(CAST(r2_sum AS HUGEINT) * r2_sum) OVER ()
                    AS HUGEINT) AS sr2,
               CAST(SUM(trt * r2_sum) OVER () AS BIGINT) AS l2
        FROM sums
    )
    SELECT trt AS daypart, r2_sum,
           CAST(FLOOR((3.0 * CAST(sr2 AS DOUBLE)
                       / (CAST(n AS DOUBLE) * k * (k + 1))
                       - 3.0 * CAST(n AS DOUBLE) * (k + 1))
                      * 1000000) AS BIGINT) AS chi2_f_e6,
           l2 AS page_l2,
           CAST(FLOOR((CAST(l2 AS DOUBLE) / 2
                       + CAST(n AS DOUBLE) * k * (k + 1) / 2
                       - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 4)
                      / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1)
                             * (k * k - 1) / 144.0)
                      * 1000000) AS BIGINT) AS page_z_e6
    FROM fin ORDER BY trt
    """,
)
def agg_friedman_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN blocked-rank test + PAGE trend statistic (round 9) —
    the k-RELATED-samples member completing the nonparametric
    family: Mann-Whitney compares 2 independent groups, Kruskal-
    Wallis k independent; Friedman ranks the k DAYPARTS within each
    DAY block, so day-level level shifts (weekends, incidents)
    cancel by construction — the right test for "do dayparts differ
    in activity?" when days themselves vary wildly.  Page's L =
    Σ j·R_j sharpens the alternative to the ORDERED hypothesis
    ("activity rises over the day") — against trends it dominates
    Friedman's any-difference power.

    Exactness: the agg_kruskal_wallis doubled-rank-unit trick inside
    each block (2·RANK + ties − 1) keeps every rank sum an exact
    bigint under ties; ΣR² runs 128-bit; χ²_F and Page's z each
    evaluate one literal-order double chain floored e6 (L and its
    moments stay in doubled units until the chain).

    Scale: one keyed cell count, per-BLOCK rank windows (keyed by
    day — never global), a k-row finish."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("blk"),
        F.floor(F.hour("ts") / 6).cast("bigint").alias("trt"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_rank = Window.partitionBy("blk").orderBy("c")
    w_tie = Window.partitionBy("blk", "c")
    ranked = cells.select(
        "blk",
        "trt",
        (
            2 * F.rank().over(w_rank) + F.count("*").over(w_tie) - 1
        ).alias("r2"),
    )
    sums = ranked.groupBy("trt").agg(
        F.sum("r2").cast("bigint").alias("r2_sum"),
        F.count("*").cast("bigint").alias("n_blocks"),
    )
    dec = "decimal(38,0)"
    w_all = Window.partitionBy()
    fin = sums.select(
        "trt",
        "r2_sum",
        F.max("n_blocks").over(w_all).cast("bigint").alias("n"),
        F.count("*").over(w_all).cast("bigint").alias("k"),
        F.sum(F.col("r2_sum").cast(dec) * F.col("r2_sum"))
        .over(w_all)
        .alias("sr2"),
        F.sum(F.col("trt") * F.col("r2_sum"))
        .over(w_all)
        .cast("bigint")
        .alias("l2"),
    )
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    # doubled ranks: R_j = r2_sum/2, so ΣR² = sr2/4 and the classic
    # 12/(nk(k+1))·ΣR² − 3n(k+1) becomes 3·sr2/(nk(k+1)) − 3n(k+1)
    chi2 = (
        3.0 * F.col("sr2").cast("double")
        / (nd * F.col("k") * (F.col("k") + 1))
        - 3.0 * nd * (F.col("k") + 1)
    )
    # Page with 0-based trt and doubled ranks: textbook (1-based)
    # L = l2/2 + n·k(k+1)/2; centered by μ_L = n·k(k+1)²/4 and scaled
    # by σ_L = sqrt(n·k²(k+1)(k²−1)/144) — one literal chain
    z = (
        F.col("l2").cast("double") / 2
        + nd * kd * (kd + 1) / 2
        - nd * kd * (kd + 1) * (kd + 1) / 4
    ) / F.sqrt(nd * kd * kd * (kd + 1) * (kd * kd - 1) / 144.0)
    return fin.select(
        F.col("trt").alias("daypart"),
        "r2_sum",
        F.floor(chi2 * 1000000).cast("bigint").alias("chi2_f_e6"),
        F.col("l2").alias("page_l2"),
        F.floor(z * 1000000).cast("bigint").alias("page_z_e6"),
    ).orderBy("daypart")


@query(
    "agg_bartlett_test",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS x
        FROM events
    ), g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               SUM(CAST(x AS HUGEINT) * x) AS q
        FROM base GROUP BY event_type
    ), per AS (
        SELECT event_type, n,
               CAST(FLOOR(ln(CAST(n * q - CAST(s AS HUGEINT) * s
                                  AS DOUBLE)
                             / CAST(n AS DOUBLE) / (n - 1))
                          * 1000000000) AS BIGINT) AS lnv_e9,
               CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                   / CAST(n AS DOUBLE) AS ssw_i
        FROM g
    ), fin AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM((n - 1) * lnv_e9) AS BIGINT) AS w_ln_e9,
               SUM(ssw_i) AS ssw,
               SUM(1.0 / (n - 1)) AS invsum
        FROM per
    )
    SELECT k, n_tot,
           CAST(FLOOR(
               ((CAST(n_tot AS DOUBLE) - k)
                    * ln(ssw / (CAST(n_tot AS DOUBLE) - k))
                - CAST(w_ln_e9 AS DOUBLE) / 1000000000.0)
               / (1.0 + (invsum - 1.0 / (CAST(n_tot AS DOUBLE) - k))
                        / (3.0 * (CAST(k AS DOUBLE) - 1.0)))
               * 1000000) AS BIGINT) AS t_e6
    FROM fin
    """,
)
def agg_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BARTLETT'S equal-variance test (round 9) — the PARAMETRIC
    sibling of agg_levene_brown_forsythe and the sharper screen when
    agg_jarque_bera has certified normality: T compares the pooled
    log-variance against the mean of per-group log-variances
    (a log-space Jensen gap — zero iff all variances agree), χ²(k−1)
    under H₀, but notoriously fragile under heavy tails — which is
    exactly why BOTH screens exist: Bartlett for power on normal
    data, Brown-Forsythe for robustness, JB to arbitrate.

    Exactness: per-group A = nΣx²−S² exact 128-bit; each
    ln(S_i²) = ln(A/n/(n−1)) is a SINGLE-term chain floored e9, so
    Σ(nᵢ−1)·lnvᵢ is an order-free bigint sum; the pooled SSW and
    Σ1/(nᵢ−1) are k-term float sums in the agg_levene accepted
    shape (k = 5 — bounded, not data-scaled); T floors once.

    Scale: one keyed moment aggregate + a k-row finish."""
    ev = load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
    )
    xd = F.col("x").cast(dec)
    g = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(xd * xd).alias("q"),
    )
    a2 = (
        F.col("n").cast(dec) * F.col("q")
        - F.col("s").cast(dec) * F.col("s")
    ).cast("double")
    per = g.select(
        "n",
        F.floor(
            F.log(a2 / F.col("n").cast("double") / (F.col("n") - 1))
            * 1000000000
        )
        .cast("bigint")
        .alias("lnv_e9"),
        (a2 / F.col("n").cast("double")).alias("ssw_i"),
    )
    fin = per.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.count("*").cast("bigint").alias("k"),
        F.sum((F.col("n") - 1) * F.col("lnv_e9"))
        .cast("bigint")
        .alias("w_ln_e9"),
        F.sum("ssw_i").alias("ssw"),
        F.sum(1.0 / (F.col("n") - 1)).alias("invsum"),
    )
    ntd, kd = F.col("n_tot").cast("double"), F.col("k").cast("double")
    t = (
        (ntd - F.col("k")) * F.log(F.col("ssw") / (ntd - F.col("k")))
        - F.col("w_ln_e9").cast("double") / 1000000000.0
    ) / (
        1.0
        + (F.col("invsum") - 1.0 / (ntd - F.col("k")))
        / (3.0 * (kd - 1.0))
    )
    return fin.select(
        "k",
        "n_tot",
        F.floor(t * 1000000).cast("bigint").alias("t_e6"),
    )


@query(
    "agg_weighted_kappa",
    """
    WITH rated AS (
        SELECT CASE WHEN n_chars < 150 THEN 0
                    WHEN n_chars < 250 THEN 1 ELSE 2 END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                         < 25 THEN 0
                    WHEN length(text) - length(replace(text, ' ', ''))
                         < 40 THEN 1 ELSE 2 END AS b
        FROM documents
    ), cells AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o
        FROM rated GROUP BY a, b
    ), ra AS (
        SELECT a, CAST(SUM(o) AS BIGINT) AS r_a FROM cells GROUP BY a
    ), cb AS (
        SELECT b, CAST(SUM(o) AS BIGINT) AS c_b FROM cells GROUP BY b
    ), tot AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells
    ), num AS (
        SELECT SUM(CAST((a - b) * (a - b) AS HUGEINT) * o
                   * (SELECT n FROM tot)) AS num
        FROM cells
    ), den AS (
        SELECT SUM(CAST((ra.a - cb.b) * (ra.a - cb.b) AS HUGEINT)
                   * ra.r_a * cb.c_b) AS den
        FROM ra CROSS JOIN cb
    )
    SELECT tot.n,
           CASE WHEN den.den > 0
                THEN CAST(FLOOR((1.0 - CAST(num.num AS DOUBLE)
                                / CAST(den.den AS DOUBLE)) * 1000000)
                          AS BIGINT)
                ELSE NULL END AS kappa_w_e6
    FROM tot, num, den
    """,
)
def agg_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUADRATIC-WEIGHTED kappa on a 3-level ordinal scale (round 9)
    — the agreement statistic agg_cohens_kappa can't be for graded
    labels: on an ordinal scale, confusing adjacent grades is venial
    and confusing extremes is mortal; quadratic weights (i−j)² make
    the penalty say so (and make κ_w equal the ICC in large samples
    — the bridge to agg_icc_design_effect).  The standard metric for
    graded quality labels (the 0/1/2 length-vs-whitespace raters
    here stand in for any pair of graded annotators or model-vs-gold
    comparisons).

    Exactness is STRUCTURAL: κ_w = 1 − n·Σ(i−j)²O_ij / Σ(i−j)²R_iC_j
    clears both the n division and the weight normalization (the
    (k−1)² scale cancels), so numerator and denominator are exact
    128-bit integers; one floored chain; a degenerate margin
    (den = 0 — a constant rater) emits NULL.

    Scale: one conditional count to ≤9 cells; margins/sums on the
    cell table."""
    d = load(spark, sf_dir, "documents")
    spaces = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" "))
    )
    rated = d.select(
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 250, 1)
        .otherwise(2)
        .alias("a"),
        F.when(spaces < 25, 0).when(spaces < 40, 1).otherwise(2).alias(
            "b"
        ),
    )
    cells = rated.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("o")
    )
    dec = "decimal(38,0)"
    ra = cells.groupBy("a").agg(F.sum("o").cast("bigint").alias("r_a"))
    cb = cells.groupBy("b").agg(F.sum("o").cast("bigint").alias("c_b"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    wsq = ((F.col("a") - F.col("b")) * (F.col("a") - F.col("b"))).cast(
        dec
    )
    num = cells.crossJoin(F.broadcast(tot)).agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(wsq * F.col("o") * F.col("n").cast(dec)).alias("num"),
    )
    # full grade grid: an empty observed cell still contributes to
    # chance disagreement
    den = ra.crossJoin(F.broadcast(cb)).agg(
        F.sum(wsq * F.col("r_a") * F.col("c_b")).alias("den")
    )
    s = num.crossJoin(F.broadcast(den))
    return s.select(
        "n",
        F.when(
            F.col("den") > 0,
            F.floor(
                (
                    1.0
                    - F.col("num").cast("double")
                    / F.col("den").cast("double")
                )
                * 1000000
            ).cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("kappa_w_e6"),
    )


@query(
    "agg_cmh_test",
    """
    WITH base AS (
        SELECT event_type,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS t,
               CASE WHEN value >= 50 THEN 1 ELSE 0 END AS y
        FROM events
    ), strat AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (t = 1 AND y = 1) AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (t = 1) AS BIGINT) AS r1,
               CAST(COUNT(*) FILTER (t = 0) AS BIGINT) AS r0,
               CAST(COUNT(*) FILTER (y = 1) AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (y = 0) AS BIGINT) AS c0,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY event_type
    ), terms AS (
        SELECT event_type, a,
               CAST(FLOOR((CAST(a AS DOUBLE)
                           - CAST(r1 AS DOUBLE) * c1 / n)
                          * 1000000000) AS BIGINT) AS dev_e9,
               CAST(FLOOR(CAST(r1 AS DOUBLE) * r0 * c1 * c0
                          / (CAST(n AS DOUBLE) * n * (n - 1))
                          * 1000000000) AS BIGINT) AS var_e9
        FROM strat
    ), tot AS (
        SELECT CAST(SUM(dev_e9) AS BIGINT) AS dev_sum_e9,
               CAST(SUM(var_e9) AS BIGINT) AS var_sum_e9,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM terms
    )
    SELECT k, dev_sum_e9, var_sum_e9,
           CAST(FLOOR(
               (abs(CAST(dev_sum_e9 AS DOUBLE) / 1000000000.0) - 0.5)
               * (abs(CAST(dev_sum_e9 AS DOUBLE) / 1000000000.0) - 0.5)
               / (CAST(var_sum_e9 AS DOUBLE) / 1000000000.0)
               * 1000000) AS BIGINT) AS cmh_e6
    FROM tot
    """,
)
def agg_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN–MANTEL–HAENSZEL stratified 2×2 test (round 9) — the
    TEST companion to events_stratified_effect's estimate: is the
    weekend × high-value association real once the event-type MIX is
    controlled?  Pools per-stratum evidence (a_i − E_i) and
    hypergeometric variances instead of collapsing the table —
    collapsing is exactly how Simpson reversals manufacture fake
    associations; χ²(1) with the standard ½ continuity correction.
    agg_chi_square tests ONE table; CMH tests the common association
    ACROSS tables.

    Exactness: all stratum margins exact bigints; each stratum's
    deviation a − r₁c₁/n and variance r₁r₀c₁c₀/(n²(n−1)) evaluate
    in one literal-order double chain floored e9 (the KL per-term
    discipline), so the pooled sums are order-free bigint sums; the
    final statistic is one more literal chain on the two quantized
    pools.

    Scale: one conditional-count aggregate to |types| strata; the
    pool and finish run on k rows."""
    ev = load(spark, sf_dir, "events")
    dow = F.dayofweek("ts") - 1
    t = F.when(dow.isin(0, 6), 1).otherwise(0)
    y = F.when(F.col("value") >= 50, 1).otherwise(0)
    base = ev.select("event_type", t.alias("t"), y.alias("y"))
    strat = base.groupBy("event_type").agg(
        F.count_if((F.col("t") == 1) & (F.col("y") == 1))
        .cast("bigint")
        .alias("a"),
        F.count_if(F.col("t") == 1).cast("bigint").alias("r1"),
        F.count_if(F.col("t") == 0).cast("bigint").alias("r0"),
        F.count_if(F.col("y") == 1).cast("bigint").alias("c1"),
        F.count_if(F.col("y") == 0).cast("bigint").alias("c0"),
        F.count("*").cast("bigint").alias("n"),
    )
    dev = F.floor(
        (
            F.col("a").cast("double")
            - F.col("r1").cast("double") * F.col("c1") / F.col("n")
        )
        * 1000000000
    ).cast("bigint")
    var = F.floor(
        F.col("r1").cast("double")
        * F.col("r0")
        * F.col("c1")
        * F.col("c0")
        / (F.col("n").cast("double") * F.col("n") * (F.col("n") - 1))
        * 1000000000
    ).cast("bigint")
    terms = strat.select(dev.alias("dev_e9"), var.alias("var_e9"))
    tot = terms.agg(
        F.sum("dev_e9").cast("bigint").alias("dev_sum_e9"),
        F.sum("var_e9").cast("bigint").alias("var_sum_e9"),
        F.count("*").cast("bigint").alias("k"),
    )
    dabs = F.abs(F.col("dev_sum_e9").cast("double") / 1000000000.0)
    cmh = (
        (dabs - 0.5)
        * (dabs - 0.5)
        / (F.col("var_sum_e9").cast("double") / 1000000000.0)
    )
    return tot.select(
        "k",
        "dev_sum_e9",
        "var_sum_e9",
        F.floor(cmh * 1000000).cast("bigint").alias("cmh_e6"),
    )


@query(
    "agg_g_test",
    """
    WITH obs AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT event_type, dow, o,
               CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rm,
               CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS cm,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM obs
    ), cells AS (
        SELECT event_type, dow, o,
               CAST(FLOOR(2.0 * CAST(o AS DOUBLE)
                          * LN(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                               / (CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)))
                          * 1000000) AS BIGINT) AS term_e6
        FROM m
    )
    SELECT event_type, dow, o, term_e6,
           CAST(SUM(term_e6) OVER () AS BIGINT) AS g_sum_e6
    FROM cells
    """,
)
def agg_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-TEST of independence (round 10) over the same event_type ×
    day-of-week table as agg_chi_square — the LIKELIHOOD-RATIO twin:
    G = 2·Σ O·ln(O/E). Sokal-Rohlf's recommendation over χ² whenever
    any cell is small or the table is sparse (G is additive across
    table partitions, so sub-table Gs reconcile to the total — the
    property drill-down dashboards actually need; χ² terms do not
    add). Emits every cell's contribution plus the grand G so one
    scan serves verdict and diagnosis, mirroring agg_chi_square's
    readout for an apples-to-apples pair.

    Exactness: margins are exact bigint sums over the cell table;
    each cell's 2·o·ln(o·n/(rm·cm)) is ONE double expression both
    engines evaluate identically, floored e6 BEFORE the order-free
    bigint total (the agg_chi_square discipline verbatim).

    Scale: one map-side-combinable count agg to |types|×7 cells,
    margin windows over that tiny table — row-scale data is touched
    exactly once."""
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("bigint").alias("dow")
    ).agg(F.count("*").cast("bigint").alias("o"))
    m = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast("bigint").alias("rm"),
        F.sum("o").over(Window.partitionBy("dow")).cast("bigint").alias("cm"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cells = m.select(
        "event_type",
        "dow",
        "o",
        F.floor(
            F.lit(2.0)
            * d("o")
            * F.log(d("o") * d("n") / (d("rm") * d("cm")))
            * 1000000
        )
        .cast("bigint")
        .alias("term_e6"),
    )
    return cells.withColumn(
        "g_sum_e6",
        F.sum("term_e6").over(Window.partitionBy()).cast("bigint"),
    )


@query(
    "agg_chao1_richness",
    """
    WITH pairs AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), fof AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS s_obs,
               CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(COUNT(*) FILTER (c = 1) AS BIGINT) AS f1,
               CAST(COUNT(*) FILTER (c = 2) AS BIGINT) AS f2
        FROM pairs GROUP BY 1
    )
    SELECT event_type, s_obs, n_events, f1, f2,
           CAST(s_obs + FLOOR(CAST(f1 AS DOUBLE) * (f1 - 1)
                              / (2.0 * (f2 + 1)) * 1000000) / 1000000.0
                AS DOUBLE) AS chao1,
           s_obs * 1000000
               + CAST(FLOOR(CAST(f1 AS DOUBLE) * (f1 - 1)
                            / (2.0 * (f2 + 1)) * 1000000) AS BIGINT)
               AS chao1_e6
    FROM fof ORDER BY event_type
    """,
)
def agg_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAO1 species-richness estimator (round 10): per event type,
    how many users engaged at least once — INCLUDING the ones the
    sample never saw. Chao's bias-corrected lower bound S_chao1 =
    S_obs + f1(f1−1)/(2(f2+1)) reads unseen mass from the frequency
    of frequencies (singletons f1 are the evidence for zero-tons,
    doubletons f2 calibrate it) — the ecology estimator that audience
    / reach measurement borrowed wholesale. Completes the unseen-mass
    family: agg_capture_recapture (two-sample overlap),
    profile_ndv_sample_gee (row-sample NDV), Chao1 (abundance-based,
    no second sample needed).

    Exactness: the frequency-of-frequencies table is exact integer;
    the single correction term floors e6 from exact bigints (the +1
    in the denominator is the bias-corrected form — defined even when
    f2 = 0); chao1_e6 = s_obs·e6 + floored term is pure bigint, and
    the human-readable double derives from the SAME floored integer
    so both engines agree bit-for-bit.

    Scale: two map-side-combinable aggregations (rows → (type,user)
    cells → frequency-of-frequencies), each shuffling only group
    keys; nothing downstream of the first agg is row-scale."""
    ev = load(spark, sf_dir, "events")
    pairs = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    fof = pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("s_obs"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.count_if(F.col("c") == 1).cast("bigint").alias("f1"),
        F.count_if(F.col("c") == 2).cast("bigint").alias("f2"),
    )
    term = F.floor(
        F.col("f1").cast("double")
        * (F.col("f1") - 1)
        / (F.lit(2.0) * (F.col("f2") + 1))
        * 1000000
    ).cast("bigint")
    return fof.select(
        "event_type",
        "s_obs",
        "n_events",
        "f1",
        "f2",
        (F.col("s_obs") + term / F.lit(1000000.0)).cast("double").alias("chao1"),
        (F.col("s_obs") * 1000000 + term).cast("bigint").alias("chao1_e6"),
    ).orderBy("event_type")


@query(
    "agg_trimmed_mean",
    """
    WITH base AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY CAST(FLOOR(l_extendedprice * 100) AS BIGINT),
                            l_orderkey, l_linenumber) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT)
                   AS n
        FROM lineitem
    ), kept AS (
        SELECT l_returnflag, cents, n,
               CAST(n // 10 AS BIGINT) AS k
        FROM base
        WHERE rn > n // 10 AND rn <= n - n // 10
    )
    SELECT l_returnflag, n, k AS n_trimmed_each_side,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(cents) AS BIGINT) AS kept_sum_cents,
           CAST(FLOOR(CAST(SUM(cents) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS trimmed_mean_cents
    FROM kept GROUP BY 1, 2, 3 ORDER BY 1
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% TRIMMED MEAN per return flag (round 10): drop the lowest
    and highest ⌊n/10⌋ prices, average the middle 80% — the robust
    location estimator BETWEEN the mean (efficient, fragile) and the
    median (robust, wasteful): ~95% Gaussian efficiency with a 10%
    breakdown point. Completes the robust-location ladder the repo
    already climbs (agg_winsorized_mean CLAMPS the tails — keeps
    their count, discards their values; trimming discards both; the
    two differ exactly when the tails are asymmetric, which is the
    diagnostic reading the pair gives for free).

    Exactness: trimming by rank needs a TOTAL order — the window
    orders by (cents, l_orderkey, l_linenumber) so ties break
    identically in both engines; kept sums are exact cents bigints,
    the mean is one floored division.

    Scale: one keyed window (rank + count ride the same exchange) +
    one map-side-combinable agg; the window partitions by the group
    key, so parallelism is |groups| at the window stage — for
    high-cardinality groups this is the standard keyed-window shape,
    for few huge groups the winsorized variant (quantile clamp, no
    total order) is the cheaper robust choice and is documented as
    such."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("bigint")
    w = Window.partitionBy("l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    base = (
        li.select(
            "l_returnflag", cents.alias("cents"), "l_orderkey", "l_linenumber"
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n",
            F.count("*")
            .over(Window.partitionBy("l_returnflag"))
            .cast("bigint"),
        )
    )
    kept = base.filter(
        (F.col("rn") > F.floor(F.col("n") / 10))
        & (F.col("rn") <= F.col("n") - F.floor(F.col("n") / 10))
    ).withColumn("k", F.floor(F.col("n") / 10).cast("bigint"))
    return (
        kept.groupBy("l_returnflag", "n", F.col("k").alias("n_trimmed_each_side"))
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("cents").cast("bigint").alias("kept_sum_cents"),
            F.floor(F.sum("cents").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("trimmed_mean_cents"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_tukey_fences",
    """
    WITH base AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ), q AS (
        SELECT l_returnflag,
               CAST(quantile_disc(cents, 0.25) AS BIGINT) AS q1,
               CAST(quantile_disc(cents, 0.75) AS BIGINT) AS q3,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(cents) AS BIGINT) AS min_cents,
               CAST(MAX(cents) AS BIGINT) AS max_cents
        FROM base GROUP BY 1
    )
    SELECT q.l_returnflag, q.n, q.q1 AS q1_cents, q.q3 AS q3_cents,
           q.q3 - q.q1 AS iqr_cents, q.min_cents, q.max_cents,
           CAST(COUNT(*) FILTER (2 * b.cents < 5 * q.q1 - 3 * q.q3)
                AS BIGINT) AS n_below,
           CAST(COUNT(*) FILTER (2 * b.cents > 5 * q.q3 - 3 * q.q1)
                AS BIGINT) AS n_above
    FROM base b JOIN q ON b.l_returnflag = q.l_returnflag
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    ORDER BY 1
    """,
)
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY FENCES outlier census per return flag (round 10): the
    boxplot rule — points beyond Q1 − 1.5·IQR / Q3 + 1.5·IQR — as a
    grouped COUNT, the data-profiling readout ("how many rows would
    a boxplot flag, per segment?") that feeds quarantine sizing
    before anyone picks a model-based detector. Complements the
    model-based family (z-score: assumes normal; MAD: windowed;
    Grubbs: worst single point) with the assumption-free quartile
    rule every analyst already reads.

    Exactness: ZERO floats anywhere — quartiles are percentile_disc
    (actual data elements), and the 1.5×IQR fences are compared in
    DOUBLED units: v < Q1 − 1.5·IQR ⟺ 2v < 5·Q1 − 3·Q3, pure bigint
    (the harmonic-sixths trick from ts_haar_energy, in halves).

    Scale: one keyed discrete-quantile agg to |groups| rows, then a
    broadcast join back for the conditional counts — two passes over
    the data, both map-side-combinable, no window over row-scale
    data (contrast agg_trimmed_mean, which needs the total order)."""
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    q = base.groupBy("l_returnflag").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("q3"),
        F.count("*").cast("bigint").alias("n"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
    )
    j = base.join(F.broadcast(q), "l_returnflag")
    return (
        j.groupBy(
            "l_returnflag",
            "n",
            F.col("q1").alias("q1_cents"),
            F.col("q3").alias("q3_cents"),
            (F.col("q3") - F.col("q1")).alias("iqr_cents"),
            "min_cents",
            "max_cents",
        )
        .agg(
            F.count_if(
                2 * F.col("cents") < 5 * F.col("q1") - 3 * F.col("q3")
            )
            .cast("bigint")
            .alias("n_below"),
            F.count_if(
                2 * F.col("cents") > 5 * F.col("q3") - 3 * F.col("q1")
            )
            .cast("bigint")
            .alias("n_above"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_goodman_kruskal_gamma",
    """
    WITH q AS (
        SELECT CAST(quantile_disc(CAST(ROUND(o_totalprice * 100)
                                       AS BIGINT), 0.25) AS BIGINT) AS b1,
               CAST(quantile_disc(CAST(ROUND(o_totalprice * 100)
                                       AS BIGINT), 0.50) AS BIGINT) AS b2,
               CAST(quantile_disc(CAST(ROUND(o_totalprice * 100)
                                       AS BIGINT), 0.75) AS BIGINT) AS b3
        FROM orders
    ), base AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS xr,
               1 + CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             > q.b1 THEN 1 ELSE 0 END
                 + CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             > q.b2 THEN 1 ELSE 0 END
                 + CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             > q.b3 THEN 1 ELSE 0 END AS yb
        FROM orders, q
    ), cells AS (
        SELECT xr, yb, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2
    ), pc AS (
        SELECT
            CAST(SUM(CASE WHEN a.xr < b.xr AND a.yb < b.yb
                     THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
            CAST(SUM(CASE WHEN a.xr < b.xr AND a.yb > b.yb
                     THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc,
            CAST(SUM(CASE WHEN a.xr = b.xr AND a.yb < b.yb
                     THEN a.c * b.c ELSE 0 END) AS BIGINT) AS tie_x_only,
            CAST(SUM(CASE WHEN a.xr < b.xr AND a.yb = b.yb
                     THEN a.c * b.c ELSE 0 END) AS BIGINT) AS tie_y_only,
            CAST(SUM(CASE WHEN a.xr = b.xr AND a.yb = b.yb
                          AND a.rowid_ = b.rowid_
                     THEN a.c * (a.c - 1) // 2 ELSE 0 END) AS BIGINT)
                AS tie_both
        FROM (SELECT xr, yb, c, xr * 100 + yb AS rowid_ FROM cells) a,
             (SELECT xr, yb, c, xr * 100 + yb AS rowid_ FROM cells) b
    )
    SELECT conc, disc, tie_x_only, tie_y_only, tie_both,
           conc + disc + tie_x_only + tie_y_only + tie_both AS n_pairs,
           CAST(FLOOR((CAST(conc AS DOUBLE) - disc)
                      / (CAST(conc AS DOUBLE) + disc) * 1000000)
                AS BIGINT) AS gamma_e6,
           CAST(FLOOR((CAST(conc AS DOUBLE) - disc)
                      / (CAST(conc AS DOUBLE) + disc + tie_y_only)
                      * 1000000) AS BIGINT) AS somers_dyx_e6,
           CAST(FLOOR((CAST(conc AS DOUBLE) - disc)
                      / (CAST(conc AS DOUBLE) + disc + tie_x_only)
                      * 1000000) AS BIGINT) AS somers_dxy_e6
    FROM pc
    """,
)
def agg_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOODMAN-KRUSKAL GAMMA + SOMERS' D (round 10) on the ordinal ×
    ordinal table priority-rank (1-5) × price quartile (1-4): the
    ordinal-association pair agg_kendall_tau cannot serve when BOTH
    axes are coarse categories — with 20 cells almost every pair is
    tied somewhere, tau-b's symmetric tie penalty crushes toward 0,
    while gamma ignores ties entirely ((C−D)/(C+D)) and Somers' d
    penalizes only the DEPENDENT side: d(Y|X) = (C−D)/(pairs untied
    on X) = (C−D)/(C+D+tie_y_only) — the asymmetric version a
    "does priority predict price band?" question actually wants.

    Exactness AND the scale story in one move: concordant/discordant
    counts are computed from the CONTINGENCY TABLE, not row pairs —
    C = Σ_{cells strictly increasing both ways} n_a·n_b over the
    20×20 cell cross, so the quadratic term is |cells|², constant in
    SF, while agg_kendall_tau's anchor trick caps n but samples.
    Ordinal buckets cut at percentile_disc boundaries (actual data
    elements, deterministic both engines). Every count exact bigint;
    the three ratios floor once each.

    Scale: one map-side-combinable count agg to ≤20 cells + a
    broadcast cell cross — row-scale data touched once; this is THE
    way to compute rank association over categorical axes at 100 TB."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    q = o.select(cents.alias("v")).agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("b1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("b2"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("b3"),
    )
    base = o.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("xr"),
        cents.alias("v"),
    ).crossJoin(F.broadcast(q))
    base = base.select(
        "xr",
        (
            F.lit(1)
            + (F.col("v") > F.col("b1")).cast("int")
            + (F.col("v") > F.col("b2")).cast("int")
            + (F.col("v") > F.col("b3")).cast("int")
        )
        .cast("bigint")
        .alias("yb"),
    )
    cells = base.groupBy("xr", "yb").agg(
        F.count("*").cast("bigint").alias("c")
    )
    a = cells.select(
        F.col("xr").alias("axr"), F.col("yb").alias("ayb"), F.col("c").alias("ac")
    )
    b = cells.select(
        F.col("xr").alias("bxr"), F.col("yb").alias("byb"), F.col("c").alias("bc")
    )
    cross = a.crossJoin(F.broadcast(b))
    w = F.col("ac") * F.col("bc")
    pc = cross.agg(
        F.sum(
            F.when((F.col("axr") < F.col("bxr")) & (F.col("ayb") < F.col("byb")), w).otherwise(0)
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when((F.col("axr") < F.col("bxr")) & (F.col("ayb") > F.col("byb")), w).otherwise(0)
        )
        .cast("bigint")
        .alias("disc"),
        F.sum(
            F.when((F.col("axr") == F.col("bxr")) & (F.col("ayb") < F.col("byb")), w).otherwise(0)
        )
        .cast("bigint")
        .alias("tie_x_only"),
        F.sum(
            F.when((F.col("axr") < F.col("bxr")) & (F.col("ayb") == F.col("byb")), w).otherwise(0)
        )
        .cast("bigint")
        .alias("tie_y_only"),
        F.sum(
            F.when(
                (F.col("axr") == F.col("bxr")) & (F.col("ayb") == F.col("byb")),
                F.expr("ac * (ac - 1) DIV 2"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tie_both"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return pc.select(
        "conc",
        "disc",
        "tie_x_only",
        "tie_y_only",
        "tie_both",
        (
            F.col("conc")
            + F.col("disc")
            + F.col("tie_x_only")
            + F.col("tie_y_only")
            + F.col("tie_both")
        ).alias("n_pairs"),
        F.floor((d("conc") - d("disc")) / (d("conc") + d("disc")) * 1000000)
        .cast("bigint")
        .alias("gamma_e6"),
        F.floor(
            (d("conc") - d("disc"))
            / (d("conc") + d("disc") + d("tie_y_only"))
            * 1000000
        )
        .cast("bigint")
        .alias("somers_dyx_e6"),
        F.floor(
            (d("conc") - d("disc"))
            / (d("conc") + d("disc") + d("tie_x_only"))
            * 1000000
        )
        .cast("bigint")
        .alias("somers_dxy_e6"),
    )


@query(
    "agg_wilcoxon_signed_rank",
    """
    WITH pairs AS (
        SELECT event_type, user_id,
               CAST(COALESCE(SUM(CASE WHEN EXTRACT(day FROM ts) <= 15
                   THEN CAST(FLOOR(value * 10000) AS BIGINT) END), 0)
                   AS BIGINT) AS pre,
               CAST(COALESCE(SUM(CASE WHEN EXTRACT(day FROM ts) > 15
                   THEN CAST(FLOOR(value * 10000) AS BIGINT) END), 0)
                   AS BIGINT) AS post
        FROM events GROUP BY 1, 2
    ), diffs AS (
        SELECT event_type, post - pre AS dd, ABS(post - pre) AS ad
        FROM pairs WHERE post <> pre
    ), ranked AS (
        SELECT event_type, dd,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY ad)
                 + COUNT(*) OVER (PARTITION BY event_type, ad) - 1
                   AS dr
        FROM diffs
    ), tg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
        FROM diffs GROUP BY event_type, ad
    ), ts_ AS (
        SELECT event_type,
               CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
        FROM tg GROUP BY 1
    ), s AS (
        SELECT r.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN dd > 0 THEN dr ELSE 0 END) AS BIGINT)
                   AS w_plus_x2
        FROM ranked r GROUP BY 1
    )
    SELECT s.event_type, s.n_pairs, s.w_plus_x2,
           CAST(s.n_pairs * (s.n_pairs + 1) // 2 AS BIGINT) AS mean_x2,
           CAST(2 * s.n_pairs * (s.n_pairs + 1) * (2 * s.n_pairs + 1)
               - ts_.tie_sum AS BIGINT) AS var_x12,
           CASE WHEN 2 * s.n_pairs * (s.n_pairs + 1)
                     * (2 * s.n_pairs + 1) - ts_.tie_sum > 0
                THEN CAST(FLOOR(
                    (CAST(s.w_plus_x2 AS DOUBLE)
                     - CAST(s.n_pairs AS DOUBLE) * (s.n_pairs + 1) / 2)
                    / sqrt((CAST(2 * s.n_pairs AS DOUBLE)
                            * (s.n_pairs + 1) * (2 * s.n_pairs + 1)
                            - ts_.tie_sum) / 12.0)
                    * 1000000) AS BIGINT)
                ELSE NULL END AS z_e6
    FROM s JOIN ts_ ON s.event_type = ts_.event_type
    ORDER BY s.event_type
    """,
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILCOXON SIGNED-RANK test (round 10), per event type: did
    per-user spend SHIFT between the first and second half of the
    month?  The PAIRED test the repo's rank family lacked —
    agg_mann_whitney compares two independent groups, agg_mcnemar two
    paired BINARY outcomes; signed-rank handles paired CONTINUOUS
    outcomes without normality (each user is their own control, which
    removes between-user variance — the reason paired designs need
    ~½ the sample).  W+ = Σ ranks of |post−pre| over positive diffs;
    zero diffs drop (Wilcoxon's rule); normal approximation with the
    tie-corrected variance.

    Exactness: average tie ranks are FRACTIONAL, so everything runs
    in DOUBLED rank units — 2·avg_rank = 2·RANK() + tie_count − 1 is
    an exact integer both engines compute from the same window; W+,
    its mean n(n+1)/2 (doubled units) and the ×12-scaled variance
    2n(n+1)(2n+1) − Σ(t³−t) are all exact bigints; z floors once.

    Scale: the user-pair rollup is one map-side-combinable keyed agg;
    the rank window partitions by event_type over |users-with-diffs|
    rows — keyed, never single-partition; tie correction rides a
    second tiny agg on the same frame."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    pairs = ev.groupBy("event_type", "user_id").agg(
        F.coalesce(
            F.sum(F.when(F.dayofmonth("ts") <= 15, v)), F.lit(0)
        )
        .cast("bigint")
        .alias("pre"),
        F.coalesce(
            F.sum(F.when(F.dayofmonth("ts") > 15, v)), F.lit(0)
        )
        .cast("bigint")
        .alias("post"),
    )
    diffs = pairs.filter(F.col("post") != F.col("pre")).select(
        "event_type",
        (F.col("post") - F.col("pre")).alias("dd"),
        F.abs(F.col("post") - F.col("pre")).alias("ad"),
    )
    wr = Window.partitionBy("event_type").orderBy("ad")
    wt = Window.partitionBy("event_type", "ad")
    ranked = diffs.select(
        "event_type",
        "dd",
        (2 * F.rank().over(wr) + F.count("*").over(wt) - 1).alias("dr"),
    )
    tie_sum = (
        diffs.groupBy("event_type", "ad")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("bigint")
            .alias("tie_sum")
        )
    )
    s = ranked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("dd") > 0, F.col("dr")).otherwise(0))
        .cast("bigint")
        .alias("w_plus_x2"),
    )
    j = s.join(tie_sum, "event_type")
    n = F.col("n_pairs")
    var12 = 2 * n * (n + 1) * (2 * n + 1) - F.col("tie_sum")
    z = (
        F.col("w_plus_x2").cast("double")
        - n.cast("double") * (n + 1) / 2
    ) / F.sqrt(var12.cast("double") / 12.0)
    return j.select(
        "event_type",
        "n_pairs",
        "w_plus_x2",
        (n * (n + 1) / 2).cast("bigint").alias("mean_x2"),
        var12.cast("bigint").alias("var_x12"),
        F.when(var12 > 0, F.floor(z * 1000000).cast("bigint"))
        .otherwise(F.lit(None))
        .alias("z_e6"),
    ).orderBy("event_type")


@query(
    "agg_gwet_ac1",
    """
    WITH rated AS (
        SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                         >= 30 THEN 1 ELSE 0 END AS b
        FROM documents
    ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (a = 1 AND b = 1) AS BIGINT) AS n11,
               CAST(COUNT(*) FILTER (a = 1 AND b = 0) AS BIGINT) AS n10,
               CAST(COUNT(*) FILTER (a = 0 AND b = 1) AS BIGINT) AS n01,
               CAST(COUNT(*) FILTER (a = 0 AND b = 0) AS BIGINT) AS n00
        FROM rated
    )
    SELECT n, n11, n10, n01, n00,
           CAST(FLOOR(CAST(n11 + n00 AS DOUBLE) / n * 1000000)
                AS BIGINT) AS pa_e6,
           CAST(FLOOR(
               (CAST(n11 + n00 AS DOUBLE) / n
                - 2.0 * ((CAST(n11 + n10 AS DOUBLE) + (n11 + n01))
                         / (2.0 * n))
                      * (1.0 - (CAST(n11 + n10 AS DOUBLE) + (n11 + n01))
                               / (2.0 * n)))
               / (1.0
                  - 2.0 * ((CAST(n11 + n10 AS DOUBLE) + (n11 + n01))
                           / (2.0 * n))
                        * (1.0 - (CAST(n11 + n10 AS DOUBLE)
                                  + (n11 + n01)) / (2.0 * n)))
               * 1000000) AS BIGINT) AS ac1_e6
    FROM c
    """,
)
def agg_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GWET'S AC1 agreement coefficient (round 10) on the SAME two
    deterministic document-quality raters as agg_cohens_kappa — so
    the pair demonstrates the PREVALENCE PARADOX directly: when both
    raters say "keep" for most documents, kappa's chance term pe =
    Σ marginal products approaches the observed agreement and kappa
    collapses toward 0 even though the raters almost always agree;
    Gwet's chance term pe = 2π(1−π) (π = mean of the two raters'
    positive rates) models chance agreement as happening only on the
    UNCERTAIN mass, staying stable under skewed marginals.  AC1 is
    what annotation-quality dashboards report alongside kappa when
    label distributions are imbalanced — which LLM filter-rule audits
    almost always are.

    Exactness: one exact 2×2 bigint table (shared shape with kappa);
    pa and AC1 are each ONE double chain from those integers, floored
    e6 — both engines evaluate identical expressions.

    Scale: single map-side-combinable conditional-count aggregate;
    the statistic is O(1) beyond the scan."""
    docs = load(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("a"),
        F.when(
            F.length("text") - F.length(F.regexp_replace("text", " ", ""))
            >= 30,
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    c = rated.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if((F.col("a") == 1) & (F.col("b") == 1)).cast("bigint").alias("n11"),
        F.count_if((F.col("a") == 1) & (F.col("b") == 0)).cast("bigint").alias("n10"),
        F.count_if((F.col("a") == 0) & (F.col("b") == 1)).cast("bigint").alias("n01"),
        F.count_if((F.col("a") == 0) & (F.col("b") == 0)).cast("bigint").alias("n00"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    pa = (d("n11") + d("n00")) / d("n")
    pi = ((d("n11") + d("n10")) + (d("n11") + d("n01"))) / (2.0 * d("n"))
    pe = 2.0 * pi * (1.0 - pi)
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.floor(pa * 1000000).cast("bigint").alias("pa_e6"),
        F.floor((pa - pe) / (1.0 - pe) * 1000000)
        .cast("bigint")
        .alias("ac1_e6"),
    )


@query(
    "agg_cliffs_delta",
    """
    WITH base AS (
        SELECT event_type,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS arm,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v
        FROM events
    ), ranked AS (
        SELECT event_type, arm,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY v)
                 + COUNT(*) OVER (PARTITION BY event_type, v) - 1 AS dr
        FROM base
    ), s AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN arm = 1 THEN dr ELSE 0 END) AS BIGINT)
                   AS sum_dr1
        FROM ranked GROUP BY 1
    )
    SELECT event_type, n1, n2,
           CAST(sum_dr1 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
               CAST(FLOOR((CAST(sum_dr1 - n1 * (n1 + 1) AS DOUBLE)
                           - CAST(n1 AS DOUBLE) * n2)
                          / (CAST(n1 AS DOUBLE) * n2) * 1000000)
                    AS BIGINT)
           ELSE NULL END AS cliffs_delta_e6
    FROM s ORDER BY event_type
    """,
)
def agg_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIFF'S DELTA ordinal effect size (round 10), weekend vs
    weekday values per event type: δ = P(X>Y) − P(X<Y) — the
    magnitude readout agg_mann_whitney's U test lacks (U says the
    shift is REAL; δ says whether it MATTERS: |δ| < .147 negligible
    by Romano's bands), distribution-free and unlike Cohen's d
    immune to variance inflation.  The standard effect size in
    empirical-SE / A-B reporting alongside the rank test.

    The scale move: δ is defined over n₁·n₂ PAIRS but computed from
    ONE ranking — with doubled average ranks (2·RANK + tiecount − 1,
    exact integers), 2U₁ = Σdr₁ − n₁(n₁+1) counts ties as exactly 1
    of 2, and the tie mass cancels algebraically in δ = (2U₁ −
    n₁n₂)/(n₁n₂) — no pair join, no per-value cross, just the
    Mann-Whitney exchange reused.  One double chain floors e6 (the
    integer products stay < 2⁵³ through sf10; exact-int division is
    avoided because the numerator goes negative and the engines
    disagree on negative integer-division rounding).

    Scale: one keyed rank window + one keyed aggregate — identical
    cost to agg_mann_whitney at any SF."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("arm"),
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
    )
    wr = Window.partitionBy("event_type").orderBy("v")
    wt = Window.partitionBy("event_type", "v")
    ranked = base.select(
        "event_type",
        "arm",
        (2 * F.rank().over(wr) + F.count("*").over(wt) - 1).alias("dr"),
    )
    s = ranked.groupBy("event_type").agg(
        F.count_if(F.col("arm") == 1).cast("bigint").alias("n1"),
        F.count_if(F.col("arm") == 0).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("arm") == 1, F.col("dr")).otherwise(0))
        .cast("bigint")
        .alias("sum_dr1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    u1x2 = F.col("sum_dr1") - F.col("n1") * (F.col("n1") + 1)
    delta = (u1x2.cast("double") - d("n1") * d("n2")) / (d("n1") * d("n2"))
    return s.select(
        "event_type",
        "n1",
        "n2",
        u1x2.cast("bigint").alias("u1_x2"),
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.floor(delta * 1000000).cast("bigint"),
        ).alias("cliffs_delta_e6"),
    ).orderBy("event_type")


@query(
    "agg_hhi_by_group",
    """
    WITH cell AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS spend
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT segment, CAST(SUM(spend) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_custs
        FROM cell GROUP BY 1
    )
    SELECT t.segment, t.n_custs, t.total AS total_cents,
           CAST(SUM(
               (c.spend * 1000000 // t.total)
               * (c.spend * 1000000 // t.total)
           ) AS BIGINT) AS hhi_e12,
           CAST(1000000000000 // t.n_custs AS BIGINT)
               AS hhi_uniform_e12
    FROM cell c JOIN tot t ON c.segment = t.segment
    GROUP BY 1, 2, 3 ORDER BY 1
    """,
)
def agg_hhi_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED HERFINDAHL concentration (round 10): per market
    segment, the HHI of customer spend shares — "is this segment's
    revenue a broad base or three whales?", the antitrust metric
    ops/finance reuse as revenue-concentration risk.  Reported
    against the uniform floor 1/n (the minimum possible HHI at that
    customer count) so segments of different size compare fairly —
    raw HHI alone confounds concentration with headcount.
    Generalizes ingest_miner_concentration / ingest_balance_
    concentration (global, one-row) to the keyed form dashboards
    segment by.

    Exactness: each share quantizes ONCE as the exact integer
    division spend·1e6 // total (shares in e6 units, squares in e12),
    then sums — zero floats anywhere, and the quantization bias is
    bounded by n·2·share·e-6, negligible against any reporting
    threshold.  int64 safe: squares ≤ 1e12, sums ≤ n·1e12 with
    n ≤ |customers|.

    Scale: one keyed spend rollup (map-side-combinable) + a
    |segments|-row broadcast total join — the agg_gini_concentration
    shape without the sort."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cell = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            "o_custkey",
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("spend")
        )
    )
    tot = cell.groupBy("segment").agg(
        F.sum("spend").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_custs"),
    )
    j = cell.join(F.broadcast(tot), "segment")
    share = F.expr("spend * 1000000 DIV total")
    return (
        j.groupBy(
            "segment",
            "n_custs",
            F.col("total").alias("total_cents"),
        )
        .agg(
            F.sum(share * share).cast("bigint").alias("hhi_e12"),
        )
        .withColumn(
            "hhi_uniform_e12",
            F.expr("CAST(1000000000000 DIV n_custs AS BIGINT)"),
        )
        .orderBy("segment")
    )


@query(
    "agg_ks_one_sample_uniform",
    """
    WITH base AS (
        SELECT event_type,
               CAST(EXTRACT(day FROM ts) AS BIGINT) AS d
        FROM events
    ), ecdf AS (
        SELECT event_type, d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, d,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_c,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n
        FROM ecdf
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(ABS(30 * cum_c - n * d)) AS BIGINT) AS d_num_x30n,
           CAST(FLOOR(CAST(MAX(ABS(30 * cum_c - n * d)) AS DOUBLE)
                      / (30.0 * MAX(n)) * 1000000) AS BIGINT)
               AS ks_d_e6,
           CAST(FLOOR(CAST(MAX(ABS(30 * cum_c - n * d)) AS DOUBLE)
                      / (30.0 * MAX(n)) * sqrt(CAST(MAX(n) AS DOUBLE))
                      * 1000000) AS BIGINT) AS ks_stat_e6
    FROM cum GROUP BY event_type ORDER BY event_type
    """,
)
def agg_ks_one_sample_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-SAMPLE Kolmogorov-Smirnov against the uniform calendar
    (round 10): is each event type's day-of-month distribution
    uniform over the 30-day window?  D = max|F̂(d) − d/30| — the
    goodness-of-fit twin of agg_ks_two_sample (which compares two
    empirical samples; this one tests against a THEORETICAL null),
    and the distributional upgrade of agg_chi_square's binned
    independence view: KS needs no binning choice and is sensitive
    to WHERE the calendar mass drifted, not just that it did.
    √n·D is the test statistic (≥1.36 ≈ 5% level).

    Exactness: the ECDF gap clears to pure integers —
    |F̂ − d/30| = |30·cum − n·d|/(30n) — so the max is an exact
    bigint comparison and only the final scalings floor.

    Scale: map-side (type, day) rollup + one keyed cumulative window
    over calendar-bounded rows + one keyed max."""
    ev = load(spark, sf_dir, "events")
    ecdf = ev.groupBy(
        "event_type", F.dayofmonth("ts").cast("bigint").alias("d")
    ).agg(F.count("*").cast("bigint").alias("c"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cum = ecdf.select(
        "event_type",
        "d",
        F.sum("c").over(wc).cast("bigint").alias("cum_c"),
        F.sum("c").over(wt).cast("bigint").alias("n"),
    )
    gap = F.abs(30 * F.col("cum_c") - F.col("n") * F.col("d"))
    g = cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(gap).cast("bigint").alias("d_num_x30n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return g.select(
        "event_type",
        "n",
        "d_num_x30n",
        F.floor(d("d_num_x30n") / (30.0 * d("n")) * 1000000)
        .cast("bigint")
        .alias("ks_d_e6"),
        F.floor(
            d("d_num_x30n") / (30.0 * d("n")) * F.sqrt(d("n")) * 1000000
        )
        .cast("bigint")
        .alias("ks_stat_e6"),
    ).orderBy("event_type")


@query(
    "agg_weighted_quantiles",
    """
    WITH base AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ), cum AS (
        SELECT l_returnflag, v,
               CAST(SUM(w) AS BIGINT) AS w_at,
               CAST(SUM(SUM(w)) OVER (PARTITION BY l_returnflag
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS cw,
               CAST(SUM(SUM(w)) OVER (PARTITION BY l_returnflag)
                    AS BIGINT) AS tw
        FROM base GROUP BY 1, 2
    )
    SELECT l_returnflag, CAST(MAX(tw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 4 * cw >= tw THEN v END) AS BIGINT)
               AS wq25_cents,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT)
               AS wq50_cents,
           CAST(MIN(CASE WHEN 4 * cw >= 3 * tw THEN v END) AS BIGINT)
               AS wq75_cents,
           CAST(MIN(CASE WHEN 10 * cw >= 9 * tw THEN v END) AS BIGINT)
               AS wq90_cents
    FROM cum GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED DISCRETE QUANTILES (round 10): per return flag, the
    quantity-weighted p25/p50/p75/p90 of unit price — "the price at
    which a quarter of the VOLUME trades" rather than a quarter of
    the rows, which is the number procurement and market-impact
    analyses actually want (row quantiles over-weight small lots).
    Generalizes agg_weighted_median (p50 only) to the full quartile+
    tail readout with the same discrete semantics: the smallest
    observed value whose cumulative weight reaches p·W — an actual
    data element, never an interpolation.

    ZERO floats: the threshold test clears to integer
    cross-multiplication (4·cw ≥ tw for p25, 10·cw ≥ 9·tw for p90),
    so there is no division anywhere — the agg_tukey_fences
    discipline applied to weighted ECDFs.

    Scale: one map-side-combinable (flag, value) weight rollup, one
    keyed cumulative window over distinct values, one keyed min —
    the weighted-median plan emitting four cuts from a single
    exchange."""
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("v"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    grouped = base.groupBy("l_returnflag", "v").agg(
        F.sum("w").cast("bigint").alias("w_at")
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    cum = grouped.select(
        "l_returnflag",
        "v",
        F.sum("w_at").over(wc).cast("bigint").alias("cw"),
        F.sum("w_at").over(wt).cast("bigint").alias("tw"),
    )
    def cut(cond):
        return F.min(F.when(cond, F.col("v"))).cast("bigint")

    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.max("tw").cast("bigint").alias("total_weight"),
            cut(4 * F.col("cw") >= F.col("tw")).alias("wq25_cents"),
            cut(2 * F.col("cw") >= F.col("tw")).alias("wq50_cents"),
            cut(4 * F.col("cw") >= 3 * F.col("tw")).alias("wq75_cents"),
            cut(10 * F.col("cw") >= 9 * F.col("tw")).alias("wq90_cents"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_psi_drift",
    """
    WITH base AS (
        SELECT event_type,
               CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 'ref'
                    ELSE 'cur' END AS period,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v
        FROM events
    ), cuts AS (
        SELECT event_type,
               CAST(quantile_disc(v, 0.2) AS BIGINT) AS b1,
               CAST(quantile_disc(v, 0.4) AS BIGINT) AS b2,
               CAST(quantile_disc(v, 0.6) AS BIGINT) AS b3,
               CAST(quantile_disc(v, 0.8) AS BIGINT) AS b4
        FROM base WHERE period = 'ref' GROUP BY 1
    ), bucketed AS (
        SELECT b.event_type, b.period,
               1 + CASE WHEN b.v > c.b1 THEN 1 ELSE 0 END
                 + CASE WHEN b.v > c.b2 THEN 1 ELSE 0 END
                 + CASE WHEN b.v > c.b3 THEN 1 ELSE 0 END
                 + CASE WHEN b.v > c.b4 THEN 1 ELSE 0 END AS bucket
        FROM base b JOIN cuts c ON b.event_type = c.event_type
    ), cells AS (
        SELECT event_type, bucket,
               CAST(COUNT(*) FILTER (period = 'ref') + 1 AS BIGINT) AS p_c,
               CAST(COUNT(*) FILTER (period = 'cur') + 1 AS BIGINT) AS q_c
        FROM bucketed GROUP BY 1, 2
    ), tots AS (
        SELECT event_type,
               CAST(SUM(p_c) AS BIGINT) AS pt,
               CAST(SUM(q_c) AS BIGINT) AS qt
        FROM cells GROUP BY 1
    ), terms AS (
        SELECT c.event_type,
               CAST(FLOOR((CAST(c.p_c AS DOUBLE) / t.pt
                           - CAST(c.q_c AS DOUBLE) / t.qt)
                          * LN((CAST(c.p_c AS DOUBLE) / t.pt)
                               / (CAST(c.q_c AS DOUBLE) / t.qt))
                          * 1000000000) AS BIGINT) AS term_e9
        FROM cells c JOIN tots t ON c.event_type = t.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(term_e9) AS BIGINT) AS psi_e9
    FROM terms GROUP BY 1 ORDER BY 1
    """,
)
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX (round 10) — the scorecard-industry
    drift standard between the reference (first half-month) and
    current (second half) value distributions, per event type: fix
    quintile buckets FROM THE REFERENCE period (the convention that
    makes PSI comparable across monitoring runs), then PSI =
    Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ).  The canonical bands read straight off
    psi_e9: < 0.1 stable, 0.1-0.25 watch, > 0.25 re-fit the model.
    Completes the drift family with the member risk teams actually
    gate on (KS: max gap; JS: symmetric info; PSI: banded industry
    readout on FIXED reference bins).

    Exactness: bucket cuts are reference-period percentile_disc
    integers; cell counts carry +1 Laplace smoothing (PSI is
    undefined on empty cells — the standard fix, identical both
    engines); each bucket term is one double chain floored e9 before
    the order-free bigint sum.

    Scale: one disc-quantile pass over the reference slice, one
    broadcast cuts join, two keyed aggregates — the agg_chi_square
    shape with reference-fixed binning."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.when(F.dayofmonth("ts") <= 15, "ref").otherwise("cur").alias("period"),
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
    )
    cuts = (
        base.filter(F.col("period") == "ref")
        .groupBy("event_type")
        .agg(
            *[
                F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY v)")
                .cast("bigint")
                .alias(f"b{i}")
                for i, p in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
            ]
        )
    )
    bucketed = base.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "period",
        (
            F.lit(1)
            + (F.col("v") > F.col("b1")).cast("int")
            + (F.col("v") > F.col("b2")).cast("int")
            + (F.col("v") > F.col("b3")).cast("int")
            + (F.col("v") > F.col("b4")).cast("int")
        ).alias("bucket"),
    )
    cells = bucketed.groupBy("event_type", "bucket").agg(
        (F.count_if(F.col("period") == "ref") + 1).cast("bigint").alias("p_c"),
        (F.count_if(F.col("period") == "cur") + 1).cast("bigint").alias("q_c"),
    )
    tots = cells.groupBy("event_type").agg(
        F.sum("p_c").cast("bigint").alias("pt"),
        F.sum("q_c").cast("bigint").alias("qt"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p = d("p_c") / d("pt")
    q = d("q_c") / d("qt")
    terms = cells.join(tots, "event_type").select(
        "event_type",
        F.floor((p - q) * F.log(p / q) * 1000000000)
        .cast("bigint")
        .alias("term_e9"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("term_e9").cast("bigint").alias("psi_e9"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_mood_median_test",
    """
    WITH base AS (
        SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS v
        FROM events
    ), med AS (
        SELECT CAST(quantile_disc(v, 0.5) AS BIGINT) AS m FROM base
    ), cells AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (v > (SELECT m FROM med)) AS BIGINT)
                   AS n_gt,
               CAST(COUNT(*) FILTER (v <= (SELECT m FROM med)) AS BIGINT)
                   AS n_le
        FROM base GROUP BY 1
    ), tots AS (
        SELECT CAST(SUM(n_gt) AS BIGINT) AS g,
               CAST(SUM(n_le) AS BIGINT) AS l,
               CAST(SUM(n_gt + n_le) AS BIGINT) AS n
        FROM cells
    )
    SELECT c.event_type, c.n_gt, c.n_le,
           CAST(FLOOR((
               POW(CAST(c.n_gt AS DOUBLE)
                   - CAST((c.n_gt + c.n_le) * t.g AS DOUBLE) / t.n, 2)
               / (CAST((c.n_gt + c.n_le) * t.g AS DOUBLE) / t.n)
             + POW(CAST(c.n_le AS DOUBLE)
                   - CAST((c.n_gt + c.n_le) * t.l AS DOUBLE) / t.n, 2)
               / (CAST((c.n_gt + c.n_le) * t.l AS DOUBLE) / t.n)
           ) * 1000000000) AS BIGINT) AS term_e9
    FROM cells c, tots t ORDER BY c.event_type
    """,
)
def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOOD'S MEDIAN TEST (round 11): classify every value as above /
    at-or-below the POOLED discrete median, then chi-square the
    resulting 2×k table — the crudest, most outlier-proof k-sample
    location test (only the side of the median matters, so a single
    10⁶× corrupted reading cannot move it; the robustness rung BELOW
    agg_kruskal_wallis, which still trusts ranks).  Per-group rows
    carry the observed counts and the group's floored chi-square
    contribution; Σ term_e9 vs χ²(k−1) is the verdict.

    Exactness: the pooled median is the discrete (type-1) quantile of
    exact e4 integers — no interpolation, identical both engines;
    cell counts are exact; each group's term is ONE double chain
    (expected counts formed as (row·col)/n in double) floored e9.

    Scale: one scan → per-type conditional counts (map-side); the
    pooled median is a single quantile_disc over the value domain;
    1-row totals broadcast back — the agg_chi_square shape."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.floor(F.col("value") * 10000).cast("bigint").alias("v")
    )
    med = base.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("m")
    )
    cells = (
        base.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.count_if(F.col("v") > F.col("m")).cast("bigint").alias("n_gt"),
            F.count_if(F.col("v") <= F.col("m")).cast("bigint").alias("n_le"),
        )
    )
    tots = cells.agg(
        F.sum("n_gt").cast("bigint").alias("g"),
        F.sum("n_le").cast("bigint").alias("l"),
        F.sum(F.col("n_gt") + F.col("n_le")).cast("bigint").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    row = (F.col("n_gt") + F.col("n_le")).cast("bigint")
    e_gt = (row * F.col("g")).cast("double") / d("n")
    e_le = (row * F.col("l")).cast("double") / d("n")
    term = (
        F.pow(d("n_gt") - e_gt, F.lit(2.0)) / e_gt
        + F.pow(d("n_le") - e_le, F.lit(2.0)) / e_le
    )
    return (
        cells.crossJoin(F.broadcast(tots))
        .select(
            "event_type",
            "n_gt",
            "n_le",
            F.floor(term * 1000000000).cast("bigint").alias("term_e9"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_wasserstein_binned",
    """
    WITH base AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               CASE WHEN day(ts) <= 15 THEN 'ref' ELSE 'cur' END AS period
        FROM events
    ), rng AS (
        SELECT CAST(MIN(v) AS BIGINT) AS lo,
               CAST(MAX(v) - MIN(v) + 1 AS BIGINT) AS span
        FROM base
    ), binned AS (
        SELECT CAST((b.v - r.lo) * 20 // r.span AS BIGINT) AS bin,
               b.period
        FROM base b, rng r
    ), cells AS (
        SELECT bin,
               CAST(COUNT(*) FILTER (period = 'ref') AS BIGINT) AS cp,
               CAST(COUNT(*) FILTER (period = 'cur') AS BIGINT) AS cq
        FROM binned GROUP BY 1
    ), cum AS (
        SELECT bin,
               CAST(SUM(cp) OVER (ORDER BY bin) AS BIGINT) AS kp,
               CAST(SUM(cq) OVER (ORDER BY bin) AS BIGINT) AS kq
        FROM cells
    ), tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cq) AS BIGINT) AS nq
        FROM cells
    ), folded AS (
        SELECT CAST(SUM(ABS(c.kp * t.nq - c.kq * t.np)) AS BIGINT) AS sd
        FROM cum c, tot t
    )
    SELECT t.np AS n_ref, t.nq AS n_cur, f.sd AS sum_fdiff,
           CAST(FLOOR(CAST(f.sd AS DOUBLE)
                      / (CAST(t.np AS DOUBLE) * CAST(t.nq AS DOUBLE))
                      * CAST(r.span AS DOUBLE) / 20.0 / 10000.0
                      * 1000000) AS BIGINT) AS w1_value_e6
    FROM folded f, tot t, rng r
    """,
)
def agg_wasserstein_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EARTH-MOVER / WASSERSTEIN-1 drift (round 11), 20 equal-width
    bins, first vs second half-month: W₁ = ∫|F_ref − F_cur| — the
    drift metric that (unlike KS's max gap, PSI's log-ratio, JS's
    info) carries UNITS: 'the distributions are 3.2 value-units of
    transport apart', which makes drift thresholds business-legible.
    Completes the drift family with the transport-cost member.

    Exactness: bin index ((v−lo)·20) DIV span is pure bigint
    arithmetic (identical both engines, no float binning); the CDF
    gap is cleared to |K_P·N_Q − K_Q·N_P| per bin — exact bigints
    summed order-free; ONE double chain converts to value units,
    floored e6.

    Scale: one scan → 20-cell conditional counts (map-side); the
    cumulative window runs over 20 bounded bins; 1-row finish."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
        F.when(F.dayofmonth("ts") <= 15, "ref").otherwise("cur").alias("period"),
    )
    rng = base.agg(
        F.min("v").cast("bigint").alias("lo"),
        (F.max("v") - F.min("v") + 1).cast("bigint").alias("span"),
    )
    binned = base.crossJoin(F.broadcast(rng)).select(
        ((F.col("v") - F.col("lo")) * 20 / F.col("span"))
        .cast("bigint")
        .alias("bin"),
        "period",
    )
    cells = binned.groupBy("bin").agg(
        F.count_if(F.col("period") == "ref").cast("bigint").alias("cp"),
        F.count_if(F.col("period") == "cur").cast("bigint").alias("cq"),
    )
    w_seq = Window.orderBy("bin")
    cum = cells.select(
        "bin",
        F.sum("cp").over(w_seq).cast("bigint").alias("kp"),
        F.sum("cq").over(w_seq).cast("bigint").alias("kq"),
    )
    tot = cells.agg(
        F.sum("cp").cast("bigint").alias("np"),
        F.sum("cq").cast("bigint").alias("nq"),
    )
    folded = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.abs(F.col("kp") * F.col("nq") - F.col("kq") * F.col("np"))
        )
        .cast("bigint")
        .alias("sd")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        folded.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(rng.select("span")))
        .select(
            F.col("np").alias("n_ref"),
            F.col("nq").alias("n_cur"),
            F.col("sd").alias("sum_fdiff"),
            F.floor(
                d("sd")
                / (d("np") * d("nq"))
                * d("span")
                / 20.0
                / 10000.0
                * 1000000
            )
            .cast("bigint")
            .alias("w1_value_e6"),
        )
    )


@query(
    "agg_hellinger_drift",
    """
    WITH base AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               CASE WHEN day(ts) <= 15 THEN 'ref' ELSE 'cur' END AS period
        FROM events
    ), rng AS (
        SELECT CAST(MIN(v) AS BIGINT) AS lo,
               CAST(MAX(v) - MIN(v) + 1 AS BIGINT) AS span
        FROM base
    ), cells AS (
        SELECT CAST((b.v - r.lo) * 20 // r.span AS BIGINT) AS bin,
               CAST(COUNT(*) FILTER (period = 'ref') AS BIGINT) AS cp,
               CAST(COUNT(*) FILTER (period = 'cur') AS BIGINT) AS cq
        FROM base b, rng r GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cq) AS BIGINT) AS nq
        FROM cells
    ), folded AS (
        SELECT CAST(SUM(CAST(FLOOR(SQRT(CAST(cp AS DOUBLE)
                                        * CAST(cq AS DOUBLE)) * 1000000)
                             AS BIGINT)) AS BIGINT) AS s_bc,
               CAST(SUM(ABS(cp * (SELECT nq FROM tot)
                            - cq * (SELECT np FROM tot))) AS BIGINT) AS s_tv
        FROM cells
    )
    SELECT t.np AS n_ref, t.nq AS n_cur,
           CAST(FLOOR(CAST(f.s_bc AS DOUBLE)
                      / SQRT(CAST(t.np AS DOUBLE) * CAST(t.nq AS DOUBLE)))
                AS BIGINT) AS bc_e6,
           CAST(1000000 - FLOOR(CAST(f.s_bc AS DOUBLE)
                      / SQRT(CAST(t.np AS DOUBLE) * CAST(t.nq AS DOUBLE)))
                AS BIGINT) AS hell2_e6,
           CAST(FLOOR(CAST(f.s_tv AS DOUBLE) * 1000000
                      / (2.0 * CAST(t.np AS DOUBLE) * CAST(t.nq AS DOUBLE)))
                AS BIGINT) AS tv_e6
    FROM folded f, tot t
    """,
)
def agg_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELLINGER / BHATTACHARYYA / TOTAL-VARIATION drift (round 11),
    20 equal-width bins, first vs second half-month: BC = Σ√(pᵢqᵢ),
    H² = 1 − BC, TV = ½Σ|pᵢ−qᵢ| — the three bounded-metric members
    of the drift family (all in [0,1], so alert thresholds transfer
    across metrics of different scales, where KL/PSI explode on
    near-empty cells; Hellinger additionally √-metrizes, so drift
    accumulates by triangle inequality across snapshots).

    Exactness: same pure-bigint bin index as agg_wasserstein_binned;
    each √(cp·cq) is ONE double sqrt floored e6 before the order-free
    bigint sum; TV clears denominators to |cp·N_Q − cq·N_P| exact
    bigints; finals are single double chains (hell2_e6 = 1e6 − bc_e6
    exactly, integer arithmetic).

    Scale: one scan → 20-cell conditional counts (map-side), 1-row
    finish; no windows at all."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
        F.when(F.dayofmonth("ts") <= 15, "ref").otherwise("cur").alias("period"),
    )
    rng = base.agg(
        F.min("v").cast("bigint").alias("lo"),
        (F.max("v") - F.min("v") + 1).cast("bigint").alias("span"),
    )
    cells = (
        base.crossJoin(F.broadcast(rng))
        .groupBy(
            ((F.col("v") - F.col("lo")) * 20 / F.col("span"))
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count_if(F.col("period") == "ref").cast("bigint").alias("cp"),
            F.count_if(F.col("period") == "cur").cast("bigint").alias("cq"),
        )
    )
    tot = cells.agg(
        F.sum("cp").cast("bigint").alias("np"),
        F.sum("cq").cast("bigint").alias("nq"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    folded = cells.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(F.sqrt(d("cp") * d("cq")) * 1000000).cast("bigint")
        )
        .cast("bigint")
        .alias("s_bc"),
        F.sum(
            F.abs(F.col("cp") * F.col("nq") - F.col("cq") * F.col("np"))
        )
        .cast("bigint")
        .alias("s_tv"),
    )
    bc = F.floor(d("s_bc") / F.sqrt(d("np") * d("nq"))).cast("bigint")
    return folded.crossJoin(F.broadcast(tot)).select(
        F.col("np").alias("n_ref"),
        F.col("nq").alias("n_cur"),
        bc.alias("bc_e6"),
        (F.lit(1000000).cast("bigint") - bc).cast("bigint").alias("hell2_e6"),
        F.floor(d("s_tv") * 1000000 / (2.0 * d("np") * d("nq")))
        .cast("bigint")
        .alias("tv_e6"),
    )


@query(
    "agg_sign_test",
    """
    WITH halves AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN day(ts) <= 15
                        THEN CAST(FLOOR(value * 10000) AS BIGINT) END)
                    AS BIGINT) AS s1,
               CAST(COUNT(*) FILTER (day(ts) <= 15) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN day(ts) > 15
                        THEN CAST(FLOOR(value * 10000) AS BIGINT) END)
                    AS BIGINT) AS s2,
               CAST(COUNT(*) FILTER (day(ts) > 15) AS BIGINT) AS n2
        FROM events GROUP BY 1
        HAVING COUNT(*) FILTER (day(ts) <= 15) > 0
           AND COUNT(*) FILTER (day(ts) > 15) > 0
    ), signs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(*) FILTER (s2 * n1 > s1 * n2) AS BIGINT) AS n_pos,
               CAST(COUNT(*) FILTER (s2 * n1 < s1 * n2) AS BIGINT) AS n_neg,
               CAST(COUNT(*) FILTER (s2 * n1 = s1 * n2) AS BIGINT) AS n_tie
        FROM halves
    )
    SELECT n_users, n_pos, n_neg, n_tie,
           CAST(FLOOR((ABS(CAST(n_pos AS DOUBLE) - CAST(n_neg AS DOUBLE))
                       - 1.0)
                      / SQRT(CAST(n_pos + n_neg AS DOUBLE))
                      * 1000000) AS BIGINT) AS z_e6
    FROM signs
    """,
)
def agg_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRED SIGN TEST (round 11): per user, did the mean event value
    RISE or FALL from the first to the second half-month?  Counts of
    risers/fallers/ties plus the continuity-corrected normal z —
    the weakest-assumption paired test there is (no symmetry, no
    scale, just exchangeability of the sign), the sanity floor under
    agg_wilcoxon_signed_rank: when the two disagree, the Wilcoxon is
    being driven by a few large paired differences.

    Exactness: the per-user comparison clears denominators —
    s2·n1 vs s1·n2 in exact e4-bigints, so 'rose/fell/tied' never
    touches a float; counts are exact; the z fold is ONE double
    chain floored e6.

    Scale: one keyed aggregate over users (map-side partials), 1-row
    finish — the agg_two_proportion_z shape."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    first = F.dayofmonth("ts") <= 15
    halves = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(first, v)).cast("bigint").alias("s1"),
            F.count_if(first).cast("bigint").alias("n1"),
            F.sum(F.when(~first, v)).cast("bigint").alias("s2"),
            F.count_if(~first).cast("bigint").alias("n2"),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    lhs = F.col("s2") * F.col("n1")
    rhs = F.col("s1") * F.col("n2")
    signs = halves.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count_if(lhs > rhs).cast("bigint").alias("n_pos"),
        F.count_if(lhs < rhs).cast("bigint").alias("n_neg"),
        F.count_if(lhs == rhs).cast("bigint").alias("n_tie"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return signs.select(
        "n_users",
        "n_pos",
        "n_neg",
        "n_tie",
        F.floor(
            (F.abs(d("n_pos") - d("n_neg")) - 1.0)
            / F.sqrt(d("n_pos") + d("n_neg"))
            * 1000000
        )
        .cast("bigint")
        .alias("z_e6"),
    )


@query(
    "agg_dixon_q",
    """
    WITH base AS (
        SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS v
        FROM events
    ), ranked AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY v ASC) AS r_asc,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY v DESC) AS r_desc,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM base
    ), pivoted AS (
        SELECT event_type, MAX(n) AS n,
               CAST(MAX(CASE WHEN r_asc = 1 THEN v END) AS BIGINT) AS x1,
               CAST(MAX(CASE WHEN r_asc = 2 THEN v END) AS BIGINT) AS x2,
               CAST(MAX(CASE WHEN r_desc = 2 THEN v END) AS BIGINT) AS xn1,
               CAST(MAX(CASE WHEN r_desc = 1 THEN v END) AS BIGINT) AS xn
        FROM ranked GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN xn > x1 THEN
               CAST(FLOOR(CAST(x2 - x1 AS DOUBLE)
                          / CAST(xn - x1 AS DOUBLE) * 1000000) AS BIGINT)
           END AS q_low_e6,
           CASE WHEN xn > x1 THEN
               CAST(FLOOR(CAST(xn - xn1 AS DOUBLE)
                          / CAST(xn - x1 AS DOUBLE) * 1000000) AS BIGINT)
           END AS q_high_e6
    FROM pivoted ORDER BY event_type
    """,
)
def agg_dixon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIXON'S Q outlier screen per group (round 11): Q_low =
    (x₂−x₁)/(xₙ−x₁) and Q_high = (xₙ−xₙ₋₁)/(xₙ−x₁) — is the most
    extreme reading an outlier relative to the GAP it leaves to its
    nearest neighbor, normalized by the range?  The lab-assay
    classic that catches the single-corrupted-sensor case
    agg_grubbs_outlier (variance-based) and agg_tukey_fences
    (quartile-based) each frame differently; near-zero Q with large
    range means heavy tails, not one bad point.

    Exactness: the four order statistics are exact e4 integers from
    keyed rank windows (value ties collapse to identical v, so rank
    ambiguity cannot change any xᵢ); each Q is ONE double division
    floored e6.

    Scale: keyed windows partitioned by event_type (never global);
    per-group 4-value pivot via conditional max — the
    agg_argminmax shape."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.floor(F.col("value") * 10000).cast("bigint").alias("v")
    )
    w_asc = Window.partitionBy("event_type").orderBy(F.col("v").asc())
    w_desc = Window.partitionBy("event_type").orderBy(F.col("v").desc())
    w_all = Window.partitionBy("event_type")
    ranked = base.select(
        "event_type",
        "v",
        F.row_number().over(w_asc).alias("r_asc"),
        F.row_number().over(w_desc).alias("r_desc"),
        F.count("*").over(w_all).cast("bigint").alias("n"),
    )
    pivoted = ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(F.when(F.col("r_asc") == 1, F.col("v")))
        .cast("bigint")
        .alias("x1"),
        F.max(F.when(F.col("r_asc") == 2, F.col("v")))
        .cast("bigint")
        .alias("x2"),
        F.max(F.when(F.col("r_desc") == 2, F.col("v")))
        .cast("bigint")
        .alias("xn1"),
        F.max(F.when(F.col("r_desc") == 1, F.col("v")))
        .cast("bigint")
        .alias("xn"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # zero-range guard (ADVICE r11): a group whose values are all
    # equal makes (xn-x1)=0 — NaN through the double chain, and
    # FLOOR(NaN)::BIGINT errors under ANSI; NULL the row instead
    # (the events_iv_wald cleared-integer NULL discipline)
    rng = F.col("xn") > F.col("x1")
    return pivoted.select(
        "event_type",
        "n",
        F.when(
            rng,
            F.floor(
                (d("x2") - d("x1")) / (d("xn") - d("x1")) * 1000000
            ).cast("bigint"),
        ).alias("q_low_e6"),
        F.when(
            rng,
            F.floor(
                (d("xn") - d("xn1")) / (d("xn") - d("x1")) * 1000000
            ).cast("bigint"),
        ).alias("q_high_e6"),
    ).orderBy("event_type")


@query(
    "agg_kendall_distance_topk",
    """
    WITH rev AS (
        SELECT l_partkey,
               CASE WHEN year(l_shipdate) <= 1997 THEN 'a' ELSE 'b' END
                   AS half,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                   * 100) AS BIGINT)) AS BIGINT) AS r
        FROM lineitem GROUP BY 1, 2
    ), ranked AS (
        SELECT half, l_partkey,
               row_number() OVER (PARTITION BY half
                                  ORDER BY r DESC, l_partkey ASC) AS rnk
        FROM rev
    ), topa AS (
        SELECT l_partkey, rnk AS ra FROM ranked
        WHERE half = 'a' AND rnk <= 20
    ), topb AS (
        SELECT l_partkey, rnk AS rb FROM ranked
        WHERE half = 'b' AND rnk <= 20
    ), common AS (
        SELECT a.l_partkey, a.ra, b.rb
        FROM topa a JOIN topb b USING (l_partkey)
    ), pairs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(*) FILTER (
                   (x.ra < y.ra AND x.rb > y.rb)
                   OR (x.ra > y.ra AND x.rb < y.rb)) AS BIGINT)
                   AS n_discordant
        FROM common x JOIN common y ON x.l_partkey < y.l_partkey
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM common) AS n_common,
           p.n_pairs, p.n_discordant,
           CASE WHEN p.n_pairs > 0 THEN
               CAST(p.n_discordant * 1000000 // p.n_pairs AS BIGINT)
           ELSE NULL END AS kendall_dist_e6
    FROM pairs p
    """,
)
def agg_kendall_distance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL DISTANCE BETWEEN TOP-K RANKINGS (round 11): rank parts
    by revenue in the early (≤1997) vs late ship years, intersect
    the two top-20 lists, and count discordant pairs — the
    rank-stability audit that answers 'did the leaderboard actually
    RESHUFFLE or just rotate its tail'.  Complements
    rank_biased_overlap (top-weighted set overlap, handles disjoint
    lists) with the classic pairwise-inversion metric on the common
    core; distance 0 = same order, 1e6 = fully reversed.

    Exactness: revenues as exact e2 bigint sums; ranks from keyed
    windows with (revenue desc, partkey asc) total order — no rank
    ambiguity; the pair count is exact integers over the ≤190-pair
    bounded self-join; the distance is exact integer division.

    Scale: keyed part×half rollup (map-side) → two 20-row frames →
    bounded 20×20 self-join; nothing grows with the fact table but
    the first rollup."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy(
        "l_partkey",
        F.when(F.year("l_shipdate") <= 1997, "a").otherwise("b").alias("half"),
    ).agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("r")
    )
    w = Window.partitionBy("half").orderBy(
        F.col("r").desc(), F.col("l_partkey").asc()
    )
    ranked = rev.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 20
    )
    topa = ranked.filter(F.col("half") == "a").select(
        "l_partkey", F.col("rnk").alias("ra")
    )
    topb = ranked.filter(F.col("half") == "b").select(
        "l_partkey", F.col("rnk").alias("rb")
    )
    common = topa.join(topb, "l_partkey")
    x = common.alias("x")
    y = common.alias("y")
    disc = (
        (F.col("x.ra") < F.col("y.ra")) & (F.col("x.rb") > F.col("y.rb"))
    ) | ((F.col("x.ra") > F.col("y.ra")) & (F.col("x.rb") < F.col("y.rb")))
    pairs = x.join(
        y, F.col("x.l_partkey") < F.col("y.l_partkey")
    ).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count_if(disc).cast("bigint").alias("n_discordant"),
    )
    n_common = common.agg(F.count("*").cast("bigint").alias("n_common"))
    return F.broadcast(n_common).crossJoin(pairs).select(
        "n_common",
        "n_pairs",
        "n_discordant",
        F.when(
            F.col("n_pairs") > 0,
            (F.col("n_discordant") * 1000000 / F.col("n_pairs")).cast(
                "bigint"
            ),
        ).alias("kendall_dist_e6"),
    )


@query(
    "agg_newcombe_diff_ci",
    """
    WITH arms AS (
        SELECT CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                   AS x
        FROM events GROUP BY 1
    ), wide AS (
        SELECT MAX(CASE WHEN half = 1 THEN n END) AS n1,
               MAX(CASE WHEN half = 1 THEN x END) AS x1,
               MAX(CASE WHEN half = 2 THEN n END) AS n2,
               MAX(CASE WHEN half = 2 THEN x END) AS x2
        FROM arms
    ), wilson AS (
        SELECT n1, x1, n2, x2,
               CAST(x1 AS DOUBLE) / n1 AS p1,
               CAST(x2 AS DOUBLE) / n2 AS p2,
               (CAST(x1 AS DOUBLE) / n1 + 1.9208 / n1
                - 1.96 * SQRT((CAST(x1 AS DOUBLE) / n1)
                              * (1.0 - CAST(x1 AS DOUBLE) / n1) / n1
                              + 0.9604 / (CAST(n1 AS DOUBLE) * n1)))
               / (1.0 + 3.8416 / n1) AS l1,
               (CAST(x1 AS DOUBLE) / n1 + 1.9208 / n1
                + 1.96 * SQRT((CAST(x1 AS DOUBLE) / n1)
                              * (1.0 - CAST(x1 AS DOUBLE) / n1) / n1
                              + 0.9604 / (CAST(n1 AS DOUBLE) * n1)))
               / (1.0 + 3.8416 / n1) AS u1,
               (CAST(x2 AS DOUBLE) / n2 + 1.9208 / n2
                - 1.96 * SQRT((CAST(x2 AS DOUBLE) / n2)
                              * (1.0 - CAST(x2 AS DOUBLE) / n2) / n2
                              + 0.9604 / (CAST(n2 AS DOUBLE) * n2)))
               / (1.0 + 3.8416 / n2) AS l2,
               (CAST(x2 AS DOUBLE) / n2 + 1.9208 / n2
                + 1.96 * SQRT((CAST(x2 AS DOUBLE) / n2)
                              * (1.0 - CAST(x2 AS DOUBLE) / n2) / n2
                              + 0.9604 / (CAST(n2 AS DOUBLE) * n2)))
               / (1.0 + 3.8416 / n2) AS u2
        FROM wide
    )
    SELECT n1, x1, n2, x2,
           CAST(FLOOR((p1 - p2) * 1000000) AS BIGINT) AS diff_e6,
           CAST(FLOOR((p1 - p2
                       - SQRT((p1 - l1) * (p1 - l1)
                              + (u2 - p2) * (u2 - p2))) * 1000000)
                AS BIGINT) AS lo_e6,
           CAST(FLOOR((p1 - p2
                       + SQRT((u1 - p1) * (u1 - p1)
                              + (p2 - l2) * (p2 - l2))) * 1000000)
                AS BIGINT) AS hi_e6
    FROM wilson
    """,
)
def agg_newcombe_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWCOMBE HYBRID-WILSON CI for a difference of proportions
    (round 11): purchase share, first vs second half-month — the
    readout every A/B dashboard actually needs (the DIFFERENCE with
    its interval, not two separate intervals eyeballed for overlap).
    Newcombe's construction composes the two Wilson score intervals
    (agg_wilson_interval is the single-arm member):
    L = d − √((p₁−l₁)² + (u₂−p₂)²), U = d + √((u₁−p₁)² + (p₂−l₂)²)
    — it respects the [−1,1] bounds and never degenerates at 0% or
    100% the way the Wald ± z·SE interval does.

    Exactness: arm counts exact bigints; z = 1.96 enters as the
    literal constants 1.9208/3.8416/0.9604 (z²/2, z², z²/4 scaled)
    written identically in both engines; the three readouts are ONE
    double chain each, floored e6.

    Scale: one conditional-count pass (map-side) → 1-row pivot →
    closed-form fold; no windows, no joins."""
    ev = load(spark, sf_dir, "events")
    arms = ev.groupBy(
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("half")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("x"),
    )
    wide = arms.groupBy().agg(
        F.max(F.when(F.col("half") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("half") == 1, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("half") == 2, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("half") == 2, F.col("x"))).alias("x2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def _wilson(x: str, n: str):
        p = d(x) / d(n)
        half = 1.9208 / d(n)
        rad = 1.96 * F.sqrt(
            p * (1.0 - p) / d(n) + 0.9604 / (d(n) * d(n))
        )
        den = 1.0 + 3.8416 / d(n)
        return p, (p + half - rad) / den, (p + half + rad) / den

    p1, l1, u1 = _wilson("x1", "n1")
    p2, l2, u2 = _wilson("x2", "n2")
    diff = p1 - p2
    lo = diff - F.sqrt((p1 - l1) * (p1 - l1) + (u2 - p2) * (u2 - p2))
    hi = diff + F.sqrt((u1 - p1) * (u1 - p1) + (p2 - l2) * (p2 - l2))
    return wide.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("x1").cast("bigint").alias("x1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("x2").cast("bigint").alias("x2"),
        F.floor(diff * 1000000).cast("bigint").alias("diff_e6"),
        F.floor(lo * 1000000).cast("bigint").alias("lo_e6"),
        F.floor(hi * 1000000).cast("bigint").alias("hi_e6"),
    )


@query(
    "agg_tost_equivalence",
    """
    WITH arms AS (
        SELECT CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)
                        * CAST(FLOOR(value * 10000) AS BIGINT))
                    AS BIGINT) AS ss
        FROM events GROUP BY 1
    ), wide AS (
        SELECT MAX(CASE WHEN half = 1 THEN n END) AS n1,
               MAX(CASE WHEN half = 1 THEN s END) AS s1,
               MAX(CASE WHEN half = 1 THEN ss END) AS ss1,
               MAX(CASE WHEN half = 2 THEN n END) AS n2,
               MAX(CASE WHEN half = 2 THEN s END) AS s2,
               MAX(CASE WHEN half = 2 THEN ss END) AS ss2
        FROM arms
    )
    SELECT n1, n2,
           CAST(FLOOR(CAST(s1 AS DOUBLE) / n1
                      - CAST(s2 AS DOUBLE) / n2) AS BIGINT) AS diff_e4,
           CAST(FLOOR(SQRT(
               ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                 * CAST(s1 AS DOUBLE) / n1) / (n1 - 1.0)) / n1
             + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                 * CAST(s2 AS DOUBLE) / n2) / (n2 - 1.0)) / n2))
                AS BIGINT) AS se_e4,
           CAST(FLOOR(((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                       - (-50000.0))
                      / SQRT(
               ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                 * CAST(s1 AS DOUBLE) / n1) / (n1 - 1.0)) / n1
             + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                 * CAST(s2 AS DOUBLE) / n2) / (n2 - 1.0)) / n2)
                      * 10000) AS BIGINT) AS t_lower_e4,
           CAST(FLOOR(((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                       - 50000.0)
                      / SQRT(
               ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                 * CAST(s1 AS DOUBLE) / n1) / (n1 - 1.0)) / n1
             + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                 * CAST(s2 AS DOUBLE) / n2) / (n2 - 1.0)) / n2)
                      * 10000) AS BIGINT) AS t_upper_e4
    FROM wide
    """,
)
def agg_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST EQUIVALENCE TEST (round 11): two one-sided Welch t-tests
    of the half-month mean difference against the margin ±5 value
    units — the test that can actually CONCLUDE 'these two periods
    are the same to within δ', which a non-significant t-test never
    licenses (absence of evidence ≠ evidence of absence — the single
    most common A/B readout error).  Equivalence holds when t_lower
    ≫ 0 AND t_upper ≪ 0 (both one-sided tests reject); the margin
    is the literal 50000 e4-units in both engines.

    Exactness: the agg_t_test_welch cell sums (exact e4 bigints);
    the three readouts are ONE double chain each, floored e4, with
    the ±δ margin entering as shared integer literals.

    Scale: one conditional-agg pass → 1-row pivot → closed-form
    fold; no windows, no joins."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    arms = ev.groupBy(
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("half")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(v).cast("bigint").alias("s"),
        F.sum(v * v).cast("bigint").alias("ss"),
    )
    wide = arms.groupBy().agg(
        *[
            F.max(F.when(F.col("half") == h, F.col(c))).alias(f"{c}{h}")
            for h in (1, 2)
            for c in ("n", "s", "ss")
        ]
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    diff = d("s1") / d("n1") - d("s2") / d("n2")
    se = F.sqrt(
        ((d("ss1") - d("s1") * d("s1") / d("n1")) / (d("n1") - 1.0)) / d("n1")
        + ((d("ss2") - d("s2") * d("s2") / d("n2")) / (d("n2") - 1.0))
        / d("n2")
    )
    return wide.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.floor(diff).cast("bigint").alias("diff_e4"),
        F.floor(se).cast("bigint").alias("se_e4"),
        F.floor((diff - (-50000.0)) / se * 10000)
        .cast("bigint")
        .alias("t_lower_e4"),
        F.floor((diff - 50000.0) / se * 10000)
        .cast("bigint")
        .alias("t_upper_e4"),
    )


@query(
    "agg_poisson_rate_ratio",
    """
    WITH arms AS (
        SELECT CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS x,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days
        FROM events GROUP BY 1
    ), wide AS (
        SELECT MAX(CASE WHEN half = 1 THEN x END) AS x1,
               MAX(CASE WHEN half = 1 THEN days END) AS t1,
               MAX(CASE WHEN half = 2 THEN x END) AS x2,
               MAX(CASE WHEN half = 2 THEN days END) AS t2
        FROM arms
    )
    SELECT CAST(x1 AS BIGINT) AS x1, CAST(t1 AS BIGINT) AS t1,
           CAST(x2 AS BIGINT) AS x2, CAST(t2 AS BIGINT) AS t2,
           CAST(FLOOR(CAST(x1 AS DOUBLE) * t2
                      / (CAST(x2 AS DOUBLE) * t1) * 1000000) AS BIGINT)
               AS rate_ratio_e6,
           CAST(FLOOR(LN(CAST(x1 AS DOUBLE) * t2
                         / (CAST(x2 AS DOUBLE) * t1))
                      / SQRT(1.0 / x1 + 1.0 / x2) * 10000) AS BIGINT)
               AS z_e4
    FROM wide
    """,
)
def agg_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON RATE-RATIO TEST (round 11): error events per exposure
    day, first vs second half-month — RR = (x₁/T₁)/(x₂/T₂) with the
    log-scale z = ln(RR)/√(1/x₁+1/x₂), the incidence-rate comparison
    epidemiology and SRE postmortems both run ('did the error RATE
    double, or did we just run longer?').  Completes the
    epidemiological trio: agg_odds_ratio (case-control),
    agg_smr_indirect (standardized), rate ratio (cohort/exposure) —
    and unlike a raw count diff it is exposure-honest when the two
    periods cover different numbers of active days.

    Exactness: counts and exposure days exact; RR clears denominators
    into one double chain (x₁T₂ / x₂T₁), z is one more chain — both
    floored.

    Scale: one conditional-count pass → 1-row pivot → closed-form
    fold."""
    ev = load(spark, sf_dir, "events")
    arms = ev.groupBy(
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("half")
    ).agg(
        F.count_if(F.col("event_type") == "error").cast("bigint").alias("x"),
        F.countDistinct(F.to_date("ts")).cast("bigint").alias("days"),
    )
    wide = arms.groupBy().agg(
        F.max(F.when(F.col("half") == 1, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("half") == 1, F.col("days"))).alias("t1"),
        F.max(F.when(F.col("half") == 2, F.col("x"))).alias("x2"),
        F.max(F.when(F.col("half") == 2, F.col("days"))).alias("t2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rr = d("x1") * d("t2") / (d("x2") * d("t1"))
    return wide.select(
        F.col("x1").cast("bigint").alias("x1"),
        F.col("t1").cast("bigint").alias("t1"),
        F.col("x2").cast("bigint").alias("x2"),
        F.col("t2").cast("bigint").alias("t2"),
        F.floor(rr * 1000000).cast("bigint").alias("rate_ratio_e6"),
        F.floor(
            F.log(rr) / F.sqrt(1.0 / d("x1") + 1.0 / d("x2")) * 10000
        )
        .cast("bigint")
        .alias("z_e4"),
    )


def _em_oracle_sql(iters: int = 3) -> str:
    """Unrolled exact oracle for the bounded 2-component 1-D EM: each
    round's responsibilities floor e4 per row BEFORE the bigint
    weighted sums, and the new means are exact integer divisions —
    so the 3-round unroll reproduces the Spark loop bit-for-bit."""
    sql = """
    WITH base AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v FROM events
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(quantile_disc(v, 0.25) AS BIGINT) AS m1_0,
               CAST(quantile_disc(v, 0.75) AS BIGINT) AS m2_0,
               CAST(FLOOR((CAST(COUNT(*) AS DOUBLE) * SUM(CAST(v AS DOUBLE) * v)
                           - SUM(CAST(v AS DOUBLE)) * SUM(CAST(v AS DOUBLE)))
                          / (CAST(COUNT(*) AS DOUBLE) * COUNT(*)))
                    AS BIGINT) AS var_e8
        FROM base
    )"""
    prev_m1, prev_m2 = "(SELECT m1_0 FROM stats)", "(SELECT m2_0 FROM stats)"
    for i in range(1, iters + 1):
        sql += f""", resp{i} AS (
        SELECT v,
               CAST(FLOOR(10000.0 / (1.0 + EXP(
                   (POW(CAST(v AS DOUBLE) - {prev_m1}, 2)
                    - POW(CAST(v AS DOUBLE) - {prev_m2}, 2))
                   / (2.0 * (SELECT CAST(var_e8 AS DOUBLE) FROM stats))
               ))) AS BIGINT) AS r_e4
        FROM base
    ), step{i} AS (
        SELECT CAST(SUM(r_e4 * v) // GREATEST(SUM(r_e4), 1) AS BIGINT)
                   AS m1,
               CAST(SUM((10000 - r_e4) * v)
                    // GREATEST(SUM(10000 - r_e4), 1) AS BIGINT) AS m2,
               CAST(SUM(r_e4) AS BIGINT) AS mass1_e4
        FROM resp{i}
    )"""
        prev_m1 = f"(SELECT CAST(m1 AS DOUBLE) FROM step{i})"
        prev_m2 = f"(SELECT CAST(m2 AS DOUBLE) FROM step{i})"
    sql += f"""
    SELECT s.n, st.m1 AS mu1_e4, st.m2 AS mu2_e4,
           CAST(st.mass1_e4 // s.n AS BIGINT) AS w1_e4
    FROM step{iters} st, stats s"""
    return sql


@query("agg_em_gaussian_1d", _em_oracle_sql())
def agg_em_gaussian_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED 1-D GAUSSIAN-MIXTURE EM (round 11), two components,
    three rounds, shared fixed variance: soft-clustering's canonical
    algorithm joins the engine's iterative family (label propagation,
    PageRank power iteration, Lloyd's k-means) with its missing
    member — EXPECTATION-MAXIMIZATION, the algorithm under every
    'is this metric secretly two populations' question
    (agg_kmeans_1d_bounded gives the hard-assignment answer; EM
    gives the soft one plus the mixing weight, which is what you
    report: '23% of events come from the high-value regime').

    Exactness: responsibilities are ONE double logistic chain per
    row floored e4 BEFORE the bigint weighted sums (order-free);
    new means are exact integer divisions; the shared variance and
    disc-quantile inits are frozen from the data once; the 3-round
    DuckDB unroll is bit-identical to the Spark loop (the
    graph_pagerank oracle discipline applied to EM).

    Scale: each round is ONE map-side aggregate over the corpus —
    no shuffle beyond the 1-row fold; the driver carries two scalar
    means between rounds (bounded state, the pagerank_iterate
    pattern)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v")
    ).localCheckpoint()
    stats = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("m1_0"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("m2_0"),
        F.floor(
            (
                F.count("*").cast("double")
                * F.sum(F.col("v").cast("double") * F.col("v"))
                - F.sum(F.col("v").cast("double"))
                * F.sum(F.col("v").cast("double"))
            )
            / (F.count("*").cast("double") * F.count("*"))
        )
        .cast("bigint")
        .alias("var_e8"),
    ).collect()[0]
    n, var_e8 = int(stats["n"]), float(stats["var_e8"])
    m1, m2 = float(stats["m1_0"]), float(stats["m2_0"])
    mass1 = None
    for _ in range(3):
        r_e4 = F.floor(
            10000.0
            / (
                1.0
                + F.exp(
                    (
                        F.pow(F.col("v").cast("double") - m1, F.lit(2.0))
                        - F.pow(F.col("v").cast("double") - m2, F.lit(2.0))
                    )
                    / (2.0 * var_e8)
                )
            )
        ).cast("bigint")
        step = (
            base.select(F.col("v"), r_e4.alias("r"))
            .agg(
                # exact int64 division (DIV), not double `/` + cast:
                # sum(r*v) reaches ~4e17 at sf10, past 2^53 — double
                # division would silently round before truncation
                # (ADVICE r11 medium; the join_cardinality_qerror fix)
                F.expr(
                    "CAST(sum(r * v) DIV greatest(sum(r), 1) AS BIGINT)"
                ).alias("m1"),
                F.expr(
                    "CAST(sum((10000 - r) * v)"
                    " DIV greatest(sum(10000 - r), 1) AS BIGINT)"
                ).alias("m2"),
                F.sum("r").cast("bigint").alias("mass1_e4"),
            )
            .collect()[0]
        )
        m1, m2, mass1 = float(step["m1"]), float(step["m2"]), int(step["mass1_e4"])
    return base.sparkSession.createDataFrame(
        [(n, int(m1), int(m2), mass1 // n)],
        "n bigint, mu1_e4 bigint, mu2_e4 bigint, w1_e4 bigint",
    )


@query(
    "agg_process_capability",
    """
    WITH base AS (
        SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS v
        FROM events
    ), sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(v * v) AS BIGINT) AS ss,
               CAST(COUNT(*) FILTER (v < 0 OR v > 4000000) AS BIGINT)
                   AS n_out_of_spec
        FROM base GROUP BY 1
    )
    SELECT event_type, n, n_out_of_spec,
           CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT) AS mean_e4,
           CAST(FLOOR(4000000.0
                      / (6.0 * SQRT((CAST(ss AS DOUBLE)
                                     - CAST(s AS DOUBLE)
                                       * CAST(s AS DOUBLE) / n)
                                    / (n - 1.0)))
                      * 1000000) AS BIGINT) AS cp_e6,
           CAST(FLOOR(LEAST(4000000.0 - CAST(s AS DOUBLE) / n,
                            CAST(s AS DOUBLE) / n - 0.0)
                      / (3.0 * SQRT((CAST(ss AS DOUBLE)
                                     - CAST(s AS DOUBLE)
                                       * CAST(s AS DOUBLE) / n)
                                    / (n - 1.0)))
                      * 1000000) AS BIGINT) AS cpk_e6
    FROM sums ORDER BY event_type
    """,
)
def agg_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESS CAPABILITY Cp / Cpk (round 11) per event type against
    the spec window [0, 400] value units: Cp = (USL−LSL)/6σ is the
    pure spread capability, Cpk = min(USL−μ, μ−LSL)/3σ the CENTERED
    capability — the pair every manufacturing/SLO review reads
    together (Cp fine but Cpk poor = the process is tight but
    off-center; both < 1 = the spec is a lie).  Completes the SPC
    family: control charts (ts_control_chart_imr, ts_spc_p_chart)
    monitor stability over time; capability indices judge the
    distribution against the SPEC, which is a different question.
    The out-of-spec count is the empirical cross-check on the
    normal-theory index.

    Exactness: e4 integer sums; spec limits enter as shared
    literals; Cp/Cpk are ONE double chain each, floored e6.

    Scale: one keyed conditional-agg pass (map-side), |types|-row
    finish."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.floor(F.col("value") * 10000).cast("bigint").alias("v")
    )
    sums = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
        F.count_if((F.col("v") < 0) | (F.col("v") > 4000000))
        .cast("bigint")
        .alias("n_out_of_spec"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("s") / d("n")
    sd = F.sqrt((d("ss") - d("s") * d("s") / d("n")) / (d("n") - 1.0))
    return sums.select(
        "event_type",
        "n",
        "n_out_of_spec",
        F.floor(mean).cast("bigint").alias("mean_e4"),
        F.floor(4000000.0 / (6.0 * sd) * 1000000)
        .cast("bigint")
        .alias("cp_e6"),
        F.floor(
            F.least(4000000.0 - mean, mean - 0.0) / (3.0 * sd) * 1000000
        )
        .cast("bigint")
        .alias("cpk_e6"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Round 12: rank-statistics completion — effect size for the U test,
# the ordered-alternative trend test, the rank scale test, and the
# Cramér-von Mises ECDF distance. All four run on the atom-table
# reduction (counts per distinct value), never raw-row rankings: the
# cumulative window's input is value-domain-bounded.
# ---------------------------------------------------------------------------


@query(
    "agg_rank_biserial_cles",
    """
    WITH s AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS c2
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ), r AS (
        SELECT c1, c2,
               CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prev
        FROM s
    ), agg AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c1 * (2 * prev + c1 + c2 + 1)) AS BIGINT) AS r1_x2
        FROM r
    )
    SELECT n1, n2,
           CAST(2 * n1 * n2 + n1 * (n1 + 1) - r1_x2 AS BIGINT) AS u1_x2,
           CAST(FLOOR(CAST(2 * n1 * n2 + n1 * (n1 + 1) - r1_x2 AS DOUBLE)
                      / (2.0 * n1 * n2) * 1000000) AS BIGINT) AS cles_e6,
           CAST(FLOOR((CAST(2 * n1 * n2 + n1 * (n1 + 1) - r1_x2 AS DOUBLE)
                       / (CAST(n1 AS DOUBLE) * n2) - 1.0) * 1000000)
                AS BIGINT) AS rank_biserial_e6
    FROM agg
    """,
)
def agg_rank_biserial_cles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BISERIAL r and COMMON-LANGUAGE EFFECT SIZE for the U test
    (round 12): CLES = U₁/(n₁n₂) is P(X>Y)+½P(X=Y) — 'a random click
    outranks a random purchase this often' — and rank-biserial
    r = 2·CLES − 1 is its signed [−1,1] form. agg_mann_whitney answers
    IS there a shift (p-value decays with n; everything is eventually
    significant at 100 TB); this row reports HOW BIG, the pair
    discipline of agg_effect_size_cohens_d next to the t-test.

    Exactness: the identical doubled-unit atom-table U (midrank tie
    handling, exact bigints); both effect sizes are ONE double
    division each floored e6 (not integer DIV: rank-biserial is
    signed, and U·10⁶ would overflow int64 at sf10 row counts —
    the double operands stay below 2^53 because U ≤ n₁n₂).

    Scale: the Mann-Whitney shape — cumulative window over the
    pre-reduced atom table only."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.groupBy(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4")
    ).agg(
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("c1"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("c2"),
    )
    wprev = Window.orderBy("v_e4").rowsBetween(Window.unboundedPreceding, -1)
    r = s.select(
        "c1",
        "c2",
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wprev), F.lit(0))
        .cast("bigint")
        .alias("prev"),
    )
    rank2 = 2 * F.col("prev") + F.col("c1") + F.col("c2") + 1
    agg = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * rank2).cast("bigint").alias("r1_x2"),
    )
    u1_x2 = (
        2 * F.col("n1") * F.col("n2")
        + F.col("n1") * (F.col("n1") + 1)
        - F.col("r1_x2")
    ).cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.select(
        "n1",
        "n2",
        u1_x2.cast("bigint").alias("u1_x2"),
        F.floor(u1_x2 / (2.0 * d("n1") * d("n2")) * 1000000)
        .cast("bigint")
        .alias("cles_e6"),
        F.floor((u1_x2 / (d("n1") * d("n2")) - 1.0) * 1000000)
        .cast("bigint")
        .alias("rank_biserial_e6"),
    )


_JT_PRIORITIES = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)
# The JT variance is CUBIC in N — no int64 can hold N²(2N+3) at sf10
# row counts, so the moment sums run in double; to keep that double
# chain ORDER-FREE the five group sizes are pivoted to ONE row and the
# sums are written as a fixed-order EXPRESSION over named columns
# (the events_iv_wald _pick discipline), identical in both engines.
_JT_WIDE_SQL = " ".join(
    f"MAX(CASE WHEN g = '{p}' THEN ng ELSE 0 END) AS ng{i},"
    for i, p in enumerate(_JT_PRIORITIES)
).rstrip(",")
_JT_N = " + ".join(f"ng{i}" for i in range(5))
_JT_S2 = " + ".join(
    f"CAST(ng{i} AS DOUBLE) * ng{i}" for i in range(5)
)
_JT_SV = " + ".join(
    f"CAST(ng{i} AS DOUBLE) * ng{i} * (2.0 * ng{i} + 3.0)"
    for i in range(5)
)


@query(
    "agg_jonckheere_terpstra",
    f"""
    WITH cnt AS (
        SELECT o_orderpriority AS g,
               CAST(FLOOR(o_totalprice / 10000) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    ), jt AS (
        SELECT CAST(SUM(CASE WHEN a.v < b.v THEN 2 * a.n * b.n
                             WHEN a.v = b.v THEN a.n * b.n
                             ELSE 0 END) AS BIGINT) AS jt2
        FROM cnt a JOIN cnt b ON a.g < b.g
    ), grp AS (
        SELECT g, CAST(SUM(n) AS BIGINT) AS ng FROM cnt GROUP BY g
    ), wide AS (
        SELECT {_JT_WIDE_SQL} FROM grp
    )
    SELECT CAST({_JT_N} AS BIGINT) AS n_total,
           CAST(5 AS BIGINT) AS n_groups,
           j.jt2,
           CAST(FLOOR((CAST(j.jt2 AS DOUBLE) / 2.0
                       - (CAST({_JT_N} AS DOUBLE) * ({_JT_N})
                          - ({_JT_S2})) / 4.0)
                      / SQRT((CAST({_JT_N} AS DOUBLE) * ({_JT_N})
                              * (2.0 * ({_JT_N}) + 3.0)
                              - ({_JT_SV})) / 72.0)
                      * 10000) AS BIGINT) AS z_e4
    FROM jt j, wide
    """,
)
def agg_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JONCKHEERE-TERPSTRA ordered-alternative trend test (round 12):
    do order totals rise (or fall) MONOTONICALLY across the ordinal
    priority ladder 1-URGENT → 5-LOW?  Kruskal-Wallis (implemented
    r10) asks 'are the groups different AT ALL' and throws away the
    ordering; JT sums the pairwise Mann-Whitney counts of every
    lower-priority-vs-higher-priority pair and is the standard
    dose-response screen for any ordinal factor (priority tiers, spec
    grades, severity levels).

    Exactness: values bucket to a bounded atom domain (price DIV
    10000); JT×2 is an exact bigint over the group-pair × atom-pair
    join (ties count once — the doubled-unit midrank convention); the
    cubic-in-N moments CANNOT be int64 at sf10, so they run as ONE
    double expression over the five PIVOTED group sizes in literal
    priority order — order-free because it is an expression, not an
    aggregation over doubles.

    Scale: the pair join is |groups·atoms|² over a value-DOMAIN-
    bounded table (5×~60 rows at any SF) — broadcast, never
    corpus-sized; everything upstream is one keyed rollup."""
    orders = load(spark, sf_dir, "orders")
    cnt = orders.groupBy(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") / 10000).cast("bigint").alias("v"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    a, b = cnt.alias("a"), cnt.alias("b")
    jt = (
        a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))
        .select(
            F.when(
                F.col("a.v") < F.col("b.v"),
                2 * F.col("a.n") * F.col("b.n"),
            )
            .when(F.col("a.v") == F.col("b.v"), F.col("a.n") * F.col("b.n"))
            .otherwise(0)
            .alias("t")
        )
        .agg(F.sum("t").cast("bigint").alias("jt2"))
    )
    grp = cnt.groupBy("g").agg(F.sum("n").cast("bigint").alias("ng"))
    wide = grp.agg(
        *[
            F.max(F.when(F.col("g") == p, F.col("ng")).otherwise(0))
            .cast("bigint")
            .alias(f"ng{i}")
            for i, p in enumerate(_JT_PRIORITIES)
        ]
    )
    n_expr = " + ".join(f"ng{i}" for i in range(5))
    s2_expr = _JT_S2
    sv_expr = _JT_SV
    return jt.crossJoin(F.broadcast(wide)).select(
        F.expr(f"CAST({n_expr} AS BIGINT)").alias("n_total"),
        F.lit(5).cast("bigint").alias("n_groups"),
        "jt2",
        F.expr(
            f"CAST(FLOOR((CAST(jt2 AS DOUBLE) / 2.0"
            f" - (CAST({n_expr} AS DOUBLE) * ({n_expr})"
            f" - ({s2_expr})) / 4.0)"
            f" / SQRT((CAST({n_expr} AS DOUBLE) * ({n_expr})"
            f" * (2.0 * ({n_expr}) + 3.0)"
            f" - ({sv_expr})) / 72.0)"
            f" * 10000) AS BIGINT)"
        ).alias("z_e4"),
    )


@query(
    "agg_ansari_bradley",
    """
    WITH s AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS c2
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c1 + c2) AS BIGINT) AS nn
        FROM s
    ), r AS (
        SELECT s.c1, s.c2, t.n1, t.n2, t.nn,
               CAST(2 * COALESCE(SUM(s.c1 + s.c2) OVER (ORDER BY s.v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + s.c1 + s.c2 + 1 AS BIGINT) AS mid2
        FROM s, tot t
    ), ab AS (
        SELECT MAX(n1) AS n1, MAX(n2) AS n2, MAX(nn) AS nn,
               CAST(SUM(c1 * LEAST(mid2, 2 * (nn + 1) - mid2)) AS BIGINT)
                   AS ab2
        FROM r
    )
    SELECT n1, n2, ab2,
           CASE WHEN nn % 2 = 0 THEN
               CAST(FLOOR((CAST(ab2 AS DOUBLE) / 2.0
                           - CAST(n1 AS DOUBLE) * (nn + 2.0) / 4.0)
                          / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 2.0)
                                 * (nn - 2.0) / (48.0 * (nn - 1.0)))
                          * 10000) AS BIGINT)
           ELSE
               CAST(FLOOR((CAST(ab2 AS DOUBLE) / 2.0
                           - CAST(n1 AS DOUBLE) * (nn + 1.0) * (nn + 1.0)
                             / (4.0 * nn))
                          / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1.0)
                                 * (3.0 + CAST(nn AS DOUBLE) * nn)
                                 / (48.0 * CAST(nn AS DOUBLE) * nn))
                          * 10000) AS BIGINT)
           END AS z_e4
    FROM ab
    """,
)
def agg_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSARI-BRADLEY rank SCALE test (round 12): are click values
    more DISPERSED than view values around a common center?  Scores
    min(rank, N+1−rank) pile mass at the extremes for the
    wider-spread sample; every location test in the registry
    (Mann-Whitney, Mood, t) is blind to a pure variance difference —
    this is the nonparametric counterpart of agg_levene_brown_forsythe
    when even the within-group mean is untrustworthy.

    Exactness: midrank tie handling in DOUBLED units over the atom
    table (2·prev+c+1 integral; the doubled score
    min(mid2, 2(N+1)−mid2) stays integral), so AB×2 is an exact
    bigint; the even/odd-N moment formulas are ONE double CASE chain
    floored e4 (tie-corrected variance documented as the follow-on —
    same caveat as agg_mann_whitney).

    Scale: the Mann-Whitney atom-table shape; the one ordered pass
    runs over distinct values only."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    s = ev.groupBy(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4")
    ).agg(
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("c1"),
        F.count_if(F.col("event_type") == "view").cast("bigint").alias("c2"),
    )
    tot = s.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") + F.col("c2")).cast("bigint").alias("nn"),
    )
    wprev = Window.orderBy("v_e4").rowsBetween(Window.unboundedPreceding, -1)
    r = s.select(
        "c1",
        "c2",
        (
            2
            * F.coalesce(
                F.sum(F.col("c1") + F.col("c2")).over(wprev), F.lit(0)
            )
            + F.col("c1")
            + F.col("c2")
            + 1
        )
        .cast("bigint")
        .alias("mid2"),
    ).crossJoin(F.broadcast(tot))
    ab = r.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.max("nn").cast("bigint").alias("nn"),
        F.sum(
            F.col("c1")
            * F.least(F.col("mid2"), 2 * (F.col("nn") + 1) - F.col("mid2"))
        )
        .cast("bigint")
        .alias("ab2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    z_even = (
        d("ab2") / 2.0 - d("n1") * (d("nn") + 2.0) / 4.0
    ) / F.sqrt(
        d("n1") * d("n2") * (d("nn") + 2.0) * (d("nn") - 2.0)
        / (48.0 * (d("nn") - 1.0))
    )
    z_odd = (
        d("ab2") / 2.0
        - d("n1") * (d("nn") + 1.0) * (d("nn") + 1.0) / (4.0 * d("nn"))
    ) / F.sqrt(
        d("n1") * d("n2") * (d("nn") + 1.0)
        * (3.0 + d("nn") * d("nn"))
        / (48.0 * d("nn") * d("nn"))
    )
    return ab.select(
        "n1",
        "n2",
        "ab2",
        F.when(F.col("nn") % 2 == 0, F.floor(z_even * 10000))
        .otherwise(F.floor(z_odd * 10000))
        .cast("bigint")
        .alias("z_e4"),
    )


@query(
    "agg_cvm_two_sample",
    """
    WITH s AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
               CAST(COUNT(*) FILTER (user_id % 2 = 0) AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (user_id % 2 = 1) AS BIGINT) AS c2
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2
        FROM s
    ), c AS (
        SELECT s.c1, s.c2, t.n1, t.n2,
               CAST(SUM(s.c1) OVER (ORDER BY s.v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum1,
               CAST(SUM(s.c2) OVER (ORDER BY s.v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum2
        FROM s, tot t
    ), terms AS (
        SELECT n1, n2,
               CAST(FLOOR((c1 + c2)
                    * POW(CAST(cum1 * n2 - cum2 * n1 AS DOUBLE)
                          / (CAST(n1 AS DOUBLE) * n2), 2)
                    * 1000000000) AS BIGINT) AS term_e9
        FROM c
    )
    SELECT MAX(n1) AS n1, MAX(n2) AS n2,
           CAST(FLOOR(CAST(MAX(n1) AS DOUBLE) * MAX(n2)
                      / POW(CAST(MAX(n1) + MAX(n2) AS DOUBLE), 2)
                      * SUM(term_e9) / 1000.0) AS BIGINT) AS t_e6,
           CAST((MAX(n1) + MAX(n2) + 1) * 1000000
                // (6 * (MAX(n1) + MAX(n2))) AS BIGINT) AS expected_e6
    FROM terms
    """,
)
def agg_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR-VON MISES two-sample ECDF distance (round 12): T =
    nm/N² · Σ over all observations of (F₁(x)−F₂(x))² — the
    WHOLE-CURVE alternative to agg_ks_two_sample's single worst gap:
    KS is driven by one point (and is insensitive in the tails); CvM
    charges every value where the splits' distributions disagree, so
    a broad mild drift that KS misses still scores. Split =
    user_id parity (deterministic in both engines); under H₀ E[T] =
    1/6 + 1/(6N), emitted alongside as the calibration anchor.

    Exactness: the integral form over the pooled empirical measure
    handles ties natively (no per-row ranking); cum counts are exact
    integer windows over the atom table; D = cum1·n2 − cum2·n1 is an
    exact bigint (≤ n·m, inside int64 at any SF); each atom's term
    floors e9 BEFORE the order-free bigint sum — D² would overflow
    int64 at sf10, so the square happens in double, per atom, floored;
    E[T] is an exact integer DIV.

    Scale: one keyed atom rollup + two value-domain-bounded cumulative
    windows + a 1-row totals broadcast — the KS/Mann-Whitney shape."""
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4")
    ).agg(
        F.count_if(F.col("user_id") % 2 == 0).cast("bigint").alias("c1"),
        F.count_if(F.col("user_id") % 2 == 1).cast("bigint").alias("c2"),
    )
    tot = s.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    wcum = Window.orderBy("v_e4").rowsBetween(Window.unboundedPreceding, 0)
    c = s.select(
        "c1",
        "c2",
        "v_e4",
        F.sum("c1").over(wcum).cast("bigint").alias("cum1"),
        F.sum("c2").over(wcum).cast("bigint").alias("cum2"),
    ).crossJoin(F.broadcast(tot))
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    terms = c.select(
        "n1",
        "n2",
        F.floor(
            (F.col("c1") + F.col("c2"))
            * F.pow(
                (F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
                .cast("double")
                / (d("n1") * d("n2")),
                F.lit(2.0),
            )
            * 1000000000
        )
        .cast("bigint")
        .alias("term_e9"),
    )
    return terms.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.floor(
            F.max("n1").cast("double")
            * F.max("n2")
            / F.pow((F.max("n1") + F.max("n2")).cast("double"), F.lit(2.0))
            * F.sum("term_e9")
            / 1000.0
        )
        .cast("bigint")
        .alias("t_e6"),
        F.expr(
            "CAST((max(n1) + max(n2) + 1) * 1000000"
            " DIV (6 * (max(n1) + max(n2))) AS BIGINT)"
        ).alias("expected_e6"),
    )


def _huber_oracle_sql(rounds: int = 3) -> str:
    """Unrolled exact oracle for the 3-round Huber IRLS: weights are
    INTEGER e6 (1e6 inside the k-band, t·1e6 DIV |v−m| outside — both
    non-negative DIVs), so each round's weighted mean is an exact
    integer division and the whole unroll is float-free except the
    single t = FLOOR(1.345·mad) literal product."""
    sql = """
    WITH base AS (
        SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS v
        FROM events
    ), st0 AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(quantile_disc(v, 0.5) AS BIGINT) AS med
        FROM base GROUP BY 1
    ), mad AS (
        SELECT b.event_type,
               CAST(quantile_disc(abs(b.v - s.med), 0.5) AS BIGINT)
                   AS mad
        FROM base b JOIN st0 s USING (event_type) GROUP BY 1
    ), st AS (
        SELECT s.event_type, s.n, s.med, m.mad,
               CAST(FLOOR(1.345 * m.mad) AS BIGINT) AS t
        FROM st0 s JOIN mad m USING (event_type)
    ), m0 AS (
        SELECT event_type, med AS m FROM st
    )"""
    prev = "m0"
    for i in range(1, rounds + 1):
        sql += f""", m{i} AS (
        SELECT b.event_type,
               CAST(SUM(CASE WHEN abs(b.v - p.m) <= s.t THEN 1000000
                        ELSE s.t * 1000000 // abs(b.v - p.m) END * b.v)
                    // SUM(CASE WHEN abs(b.v - p.m) <= s.t THEN 1000000
                           ELSE s.t * 1000000 // abs(b.v - p.m) END)
                    AS BIGINT) AS m
        FROM base b
        JOIN {prev} p USING (event_type)
        JOIN st s USING (event_type)
        GROUP BY 1
    )"""
        prev = f"m{i}"
    sql += f"""
    SELECT s.event_type, s.n, s.med AS median_e4, s.mad AS mad_e4,
           r.m AS huber_m_e4
    FROM st s JOIN {prev} r USING (event_type)
    ORDER BY s.event_type"""
    return sql


@query("agg_huber_m_3step", _huber_oracle_sql())
def agg_huber_m_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUBER M-ESTIMATOR of location, 3 IRLS rounds (round 12): the
    canonical robust mean — quadratic loss inside k·MAD of the
    current estimate, linear outside — completing the robust-location
    shelf (median ignores all magnitude information;
    agg_winsorized_mean / agg_trimmed_mean clip at fixed QUANTILES
    regardless of shape; agg_hodges_lehmann is pairwise-median; Huber
    downweights by DISTANCE, the statistically efficient compromise,
    k=1.345·MAD giving 95% Gaussian efficiency).

    Exactness: the iterative family's integer discipline taken all
    the way — weights are e6 INTEGERS (1e6 in-band, t·1e6 DIV |v−m|
    out-of-band, both non-negative so `//` ≡ DIV), every round's new
    location is ONE exact integer division of exact bigint sums, and
    the only float op in the whole program is t = FLOOR(1.345·mad),
    a shared-literal product. The median weight is always 1e6, so
    Σw ≥ 1e6 and no zero-division guard is needed even at MAD = 0.

    Scale: three keyed re-aggregations of the corpus against a
    broadcast |types|-row state dim — the graph_pagerank bounded-
    state loop shape, unrolled; sums bounded by Σ(1e6·v) < 2^63 at
    ~2×10¹² rows/type (beyond that, per-partition partial DIV
    pre-scaling is the documented refinement)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.floor(F.col("value") * 10000).cast("bigint").alias("v")
    )
    st0 = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v)"
               " AS BIGINT)").alias("med"),
    )
    mad = (
        base.join(F.broadcast(st0), "event_type")
        .select("event_type", F.abs(F.col("v") - F.col("med")).alias("ad"))
        .groupBy("event_type")
        .agg(
            F.expr(
                "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)"
                " AS BIGINT)"
            ).alias("mad")
        )
    )
    st = st0.join(mad, "event_type").select(
        "event_type",
        "n",
        "med",
        "mad",
        F.floor(1.345 * F.col("mad")).cast("bigint").alias("t"),
    )
    m = st.select("event_type", F.col("med").alias("m"))
    for _ in range(3):
        j = base.join(F.broadcast(m), "event_type").join(
            F.broadcast(st.select("event_type", "t")), "event_type"
        )
        w = F.when(
            F.abs(F.col("v") - F.col("m")) <= F.col("t"), F.lit(1000000)
        ).otherwise(
            F.expr("t * 1000000 DIV abs(v - m)")
        )
        m = (
            j.select("event_type", F.col("v"), w.alias("w"))
            .groupBy("event_type")
            .agg(
                F.expr(
                    "CAST(sum(w * v) DIV sum(w) AS BIGINT)"
                ).alias("m")
            )
        )
    return (
        st.join(m, "event_type")
        .select(
            "event_type",
            "n",
            F.col("med").alias("median_e4"),
            F.col("mad").alias("mad_e4"),
            F.col("m").alias("huber_m_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_quade_test",
    """
    WITH cells AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS blk,
               CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS trt,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT blk, trt,
               2 * RANK() OVER (PARTITION BY blk ORDER BY c)
                   + COUNT(*) OVER (PARTITION BY blk, c) - 1 AS r2
        FROM cells
    ), rng AS (
        SELECT blk, CAST(MAX(c) - MIN(c) AS BIGINT) AS range_c
        FROM cells GROUP BY 1
    ), wts AS (
        SELECT blk,
               2 * RANK() OVER (ORDER BY range_c)
                   + COUNT(*) OVER (PARTITION BY range_c) - 1 AS w2
        FROM rng
    ), s AS (
        SELECT r.blk, r.trt,
               CAST(w.w2 * (r.r2 - (k.k + 1)) AS BIGINT) AS s4
        FROM ranked r
        JOIN wts w USING (blk)
        CROSS JOIN (SELECT CAST(MAX(cnt) AS BIGINT) AS k
                    FROM (SELECT COUNT(*) AS cnt FROM cells GROUP BY blk))
                   k
    ), tots AS (
        SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS b,
               CAST(SUM(s4 * s4) AS BIGINT) AS a16
        FROM s
    ), percol AS (
        SELECT CAST(SUM(sj4 * sj4) AS BIGINT) AS b16,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT trt, CAST(SUM(s4) AS BIGINT) AS sj4
              FROM s GROUP BY trt)
    )
    SELECT t.b AS n_blocks, p.k AS n_treatments,
           t.a16, p.b16,
           CASE WHEN t.b * t.a16 - p.b16 > 0 THEN
               CAST((t.b - 1) * p.b16 * 1000000
                    // (t.b * t.a16 - p.b16) AS BIGINT)
           END AS quade_f_e6
    FROM tots t, percol p
    """,
)
def agg_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUADE TEST (round 12): Friedman's blocked-rank test with
    RANGE-WEIGHTED blocks — blocks (days) whose dayparts differ by
    MORE carry proportionally more evidence, which dominates Friedman
    for small k (here k=4 dayparts) exactly as the weighted t beats
    the sign test. Reads as a pair with agg_friedman_page_trend on
    the SAME (day × daypart) table: Friedman answers under
    block-exchangeability, Quade when block scale is informative.

    Exactness: within-block midranks and block weights both live in
    DOUBLED units (2·RANK + tiecount − 1 — the Friedman idiom); the
    cell statistic S₄ = w₂·(r₂−(k+1)) is ×4 the textbook S and stays
    an exact bigint at ANY scale (operands calendar-bounded: b days,
    k dayparts); the F statistic (b−1)·ΣSⱼ²/(b·ΣS²−ΣSⱼ²) is an exact
    integer DIV e6 of the ×16 sums (the scale factor cancels), gated
    on a positive denominator (A=B ⇔ perfect block agreement).

    Scale: one map-side (day, daypart) rollup; every window runs on
    calendar-bounded tapes keyed by block."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.to_date("ts").alias("blk"),
        F.floor(F.hour("ts") / 6).cast("bigint").alias("trt"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_rank = Window.partitionBy("blk").orderBy("c")
    w_tie = Window.partitionBy("blk", "c")
    ranked = cells.select(
        "blk",
        "trt",
        (2 * F.rank().over(w_rank) + F.count("*").over(w_tie) - 1).alias(
            "r2"
        ),
    )
    rng = cells.groupBy("blk").agg(
        (F.max("c") - F.min("c")).cast("bigint").alias("range_c")
    )
    w_wrank = Window.orderBy("range_c")
    w_wtie = Window.partitionBy("range_c")
    wts = rng.select(
        "blk",
        (2 * F.rank().over(w_wrank) + F.count("*").over(w_wtie) - 1).alias(
            "w2"
        ),
    )
    k = cells.groupBy("blk").count().agg(
        F.max("count").cast("bigint").alias("k")
    )
    s = (
        ranked.join(wts, "blk")
        .crossJoin(F.broadcast(k))
        .select(
            "blk",
            "trt",
            (F.col("w2") * (F.col("r2") - (F.col("k") + 1)))
            .cast("bigint")
            .alias("s4"),
        )
    )
    tots = s.agg(
        F.countDistinct("blk").cast("bigint").alias("b"),
        F.sum(F.col("s4") * F.col("s4")).cast("bigint").alias("a16"),
    )
    percol = (
        s.groupBy("trt")
        .agg(F.sum("s4").cast("bigint").alias("sj4"))
        .agg(
            F.sum(F.col("sj4") * F.col("sj4")).cast("bigint").alias("b16"),
            F.count("*").cast("bigint").alias("k"),
        )
    )
    return tots.crossJoin(F.broadcast(percol)).select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        "a16",
        "b16",
        F.when(
            F.col("b") * F.col("a16") - F.col("b16") > 0,
            F.expr(
                "CAST((b - 1) * b16 * 1000000"
                " DIV (b * a16 - b16) AS BIGINT)"
            ),
        ).alias("quade_f_e6"),
    )


@query(
    "agg_dunn_posthoc",
    """
    WITH atoms AS (
        SELECT event_type AS g,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), vtot AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS ct
        FROM atoms GROUP BY 1
    ), r AS (
        SELECT v, ct,
               CAST(2 * COALESCE(SUM(ct) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + ct + 1 AS BIGINT) AS mid2
        FROM vtot
    ), joined AS (
        SELECT a.g, a.c, r.mid2
        FROM atoms a JOIN r USING (v)
    ), grp AS (
        SELECT g,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * mid2) AS BIGINT) AS rsum2
        FROM joined GROUP BY 1
    ), gtot AS (
        SELECT CAST(SUM(ct) AS BIGINT) AS big_n,
               CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tie_term
        FROM vtot
    )
    SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
           CAST(FLOOR((CAST(a.rsum2 AS DOUBLE) / (2.0 * a.n)
                       - CAST(b.rsum2 AS DOUBLE) / (2.0 * b.n))
                      / SQRT((CAST(gl.big_n AS DOUBLE)
                              * (gl.big_n + 1) / 12.0
                              - CAST(gl.tie_term AS DOUBLE)
                                / (12.0 * (gl.big_n - 1)))
                             * (1.0 / a.n + 1.0 / b.n))
                      * 10000) AS BIGINT) AS z_e4
    FROM grp a JOIN grp b ON a.g < b.g CROSS JOIN gtot gl
    ORDER BY group_a, group_b
    """,
)
def agg_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUNN'S POST-HOC pairwise rank test (round 12): after
    agg_kruskal_wallis says 'SOME event type differs', Dunn's z for
    every group pair says WHICH — mean joint midrank differences
    scaled by the tie-corrected pooled rank variance
    (N(N+1)/12 − ΣT/(12(N−1)))·(1/nᵢ+1/nⱼ). This is the
    nonparametric twin of agg_tukey_hsd (which assumes equal-variance
    normal cells); reporting the full pair matrix is what makes the
    omnibus test actionable.

    Exactness: joint midranks in DOUBLED units off the shared atom
    table; per-group rank sums and the tie term Σ(t³−t) are exact
    bigints; each pair's z is ONE double formula floored e4 (mean
    midrank = rsum2/(2n), halving the doubled units inside the
    shared chain).

    Scale: atom table + one value-domain cumulative window + a
    |groups|²-bounded pair join (k=5 → 10 rows) with a 1-row tie
    anchor."""
    ev = load(spark, sf_dir, "events")
    atoms = ev.groupBy(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    vtot = atoms.groupBy("v").agg(F.sum("c").cast("bigint").alias("ct"))
    wprev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = vtot.select(
        "v",
        "ct",
        (
            2 * F.coalesce(F.sum("ct").over(wprev), F.lit(0))
            + F.col("ct")
            + 1
        )
        .cast("bigint")
        .alias("mid2"),
    )
    joined = atoms.join(r, "v")
    grp = joined.groupBy("g").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("mid2")).cast("bigint").alias("rsum2"),
    )
    glob = vtot.agg(
        F.sum("ct").cast("bigint").alias("big_n"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("bigint")
        .alias("tie_term"),
    )
    a = grp.select(
        F.col("g").alias("group_a"),
        F.col("n").alias("n_a"),
        F.col("rsum2").alias("ra2"),
    )
    b = grp.select(
        F.col("g").alias("group_b"),
        F.col("n").alias("n_b"),
        F.col("rsum2").alias("rb2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    z = (
        d("ra2") / (2.0 * d("n_a")) - d("rb2") / (2.0 * d("n_b"))
    ) / F.sqrt(
        (
            d("big_n") * (d("big_n") + 1) / 12.0
            - d("tie_term") / (12.0 * (d("big_n") - 1))
        )
        * (1.0 / d("n_a") + 1.0 / d("n_b"))
    )
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .crossJoin(F.broadcast(glob))
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            F.floor(z * 10000).cast("bigint").alias("z_e4"),
        )
        .orderBy("group_a", "group_b")
    )


# 16^15 = 2^60, the KMV hash space (15 hex digits keeps the parsed
# hash inside int64). 63·2^60 needs 67 bits, so the estimator runs in
# ONE double chain from this shared literal — identical rounding in
# both engines rather than an int64 overflow.
_KMV_K = 64
_KMV_SPACE = float(16 ** 15)


@query(
    "agg_kmv_sketch_ndv",
    f"""
    WITH hashes AS (
        SELECT grp, h FROM (
            SELECT DISTINCT event_type AS grp,
                   CAST(CAST('0x' || substr(md5('kmv:' ||
                        CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                        AS BIGINT) AS h
            FROM events
            UNION ALL
            SELECT DISTINCT '__all__' AS grp,
                   CAST(CAST('0x' || substr(md5('kmv:' ||
                        CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                        AS BIGINT) AS h
            FROM events
        )
    ), kept AS (
        SELECT grp, h,
               row_number() OVER (PARTITION BY grp ORDER BY h ASC) AS rk
        FROM hashes
    ), sk AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS k_used,
               CAST(MAX(h) AS BIGINT) AS h_k
        FROM kept WHERE rk <= {_KMV_K} GROUP BY 1
    ), exact AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS ndv_exact
        FROM hashes GROUP BY 1
    )
    SELECT s.grp,
           e.ndv_exact,
           CASE WHEN s.k_used < {_KMV_K} THEN e.ndv_exact
                ELSE CAST(FLOOR(({_KMV_K} - 1.0) * {_KMV_SPACE!r}
                                / s.h_k) AS BIGINT) END AS ndv_est,
           s.k_used
    FROM sk s JOIN exact e USING (grp) ORDER BY s.grp
    """,
)
def agg_kmv_sketch_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) NDV SKETCH with built-in accuracy audit
    (round 12): keep the k=64 smallest md5 hashes of each group's
    distinct users; the k-th smallest estimates NDV as
    (k−1)·SPACE/h_k — the third sketch family next to
    agg_hll_sketch (probabilistic registers — rows-only by nature)
    and agg_bitmap_ndv (exact but memory ∝ domain): KMV is BOUNDED
    MEMORY (k hashes), MERGEABLE (union sketch = k smallest of the
    concatenation — the '__all__' row demonstrates the merge), and —
    because the hash is a deterministic md5 — EXACTLY reproducible,
    so this sketch query carries a full hash-match oracle where HLL
    cannot. Groups with fewer than k distinct members short-circuit
    to the exact count (the estimator is undefined there).

    Exactness: 15-hex-digit hashes stay inside int64; the k smallest
    are a keyed WindowGroupLimit over DISTINCT hashes; the only
    float op is the shared-literal (k−1)·2⁶⁰/h_k chain (63·2⁶⁰
    needs 67 bits — a deliberate double, identical rounding both
    engines).

    Scale: distinct-hash reduction then k rows per group — the
    at-rest sketch is k·8 bytes per partition key and merges
    associatively, exactly how you maintain NDV across 100 TB
    partitions without re-scanning."""
    ev = load(spark, sf_dir, "events")
    h = md5_int(F.lit("kmv:"), F.col("user_id").cast("string"), digits=15)
    per_type = ev.select(
        F.col("event_type").alias("grp"), h.alias("h")
    ).distinct()
    all_grp = ev.select(F.lit("__all__").alias("grp"), h.alias("h")).distinct()
    hashes = per_type.unionAll(all_grp)
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    kept = hashes.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _KMV_K
    )
    sk = kept.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("k_used"),
        F.max("h").cast("bigint").alias("h_k"),
    )
    exact = hashes.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("ndv_exact")
    )
    return (
        sk.join(exact, "grp")
        .select(
            "grp",
            "ndv_exact",
            F.when(F.col("k_used") < _KMV_K, F.col("ndv_exact"))
            .otherwise(
                F.floor(
                    (_KMV_K - 1.0) * _KMV_SPACE / F.col("h_k")
                ).cast("bigint")
            )
            .alias("ndv_est"),
            "k_used",
        )
        .orderBy("grp")
    )


@query(
    "agg_cohens_h",
    """
    WITH cell AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_t,
               CAST(COUNT(*) FILTER (value >= 100.0) AS BIGINT) AS s_t
        FROM events GROUP BY event_type
    ), tot AS (
        SELECT CAST(SUM(n_t) AS BIGINT) AS n,
               CAST(SUM(s_t) AS BIGINT) AS s
        FROM cell
    )
    SELECT event_type, n_t, s_t,
           CAST((s_t * 1000000) // n_t AS BIGINT) AS p_self_e6,
           CAST(((s - s_t) * 1000000) // (n - n_t) AS BIGINT)
               AS p_rest_e6,
           CAST(FLOOR((2.0 * ASIN(SQRT(CAST(s_t AS DOUBLE) / n_t))
                       - 2.0 * ASIN(SQRT(CAST(s - s_t AS DOUBLE)
                                         / (n - n_t))))
                      * 1000000) AS BIGINT) AS h_e6
    FROM cell, tot
    ORDER BY event_type
    """,
)
def agg_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S H effect size per event type (round 12 cont.):
    h = 2·asin(√p_self) − 2·asin(√p_rest) for the high-value-event
    rate of each type against the POOLED REST — the
    variance-stabilized proportion-difference that completes the
    effect-size block (cohens_d for means, cliffs_delta/CLES for
    ranks, this for proportions): unlike the raw difference, equal
    h means equal detectability at every baseline rate, which is why
    power calculators take h, not Δp.

    Exactness: cells are exact bigint counts; the two shares are
    exact integer divisions (nonneg, so `//`/DIV agree); h itself is
    ONE double chain (sqrt→asin→difference, written identically both
    sides) floored e6 — asin joins the ln/sqrt/exp libm set the §2.12
    parity discipline already covers.

    Scale: one keyed rollup over raw events + a 1-ROW totals anchor
    broadcast-crossed into the |types|-row cell table (allowlisted
    bnlj: bounded by construction)."""
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_t"),
        F.count_if(F.col("value") >= 100.0).cast("bigint").alias("s_t"),
    )
    tot = cell.agg(
        F.sum("n_t").cast("bigint").alias("n"),
        F.sum("s_t").cast("bigint").alias("s"),
    )
    j = cell.crossJoin(F.broadcast(tot))
    p_self = F.sqrt(F.col("s_t").cast("double") / F.col("n_t"))
    p_rest = F.sqrt(
        (F.col("s") - F.col("s_t")).cast("double")
        / (F.col("n") - F.col("n_t"))
    )
    return j.select(
        "event_type",
        "n_t",
        "s_t",
        F.expr("(s_t * 1000000) DIV n_t").alias("p_self_e6"),
        F.expr("((s - s_t) * 1000000) DIV (n - n_t)").alias(
            "p_rest_e6"
        ),
        F.floor((2.0 * F.asin(p_self) - 2.0 * F.asin(p_rest)) * 1000000)
        .cast("bigint")
        .alias("h_e6"),
    ).orderBy("event_type")


@query(
    "agg_theil_u",
    """
    WITH cells AS (
        SELECT event_type AS y,
               CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), marg AS (
        SELECT x, y, c,
               CAST(SUM(c) OVER (PARTITION BY y) AS BIGINT) AS r_y,
               CAST(SUM(c) OVER (PARTITION BY x) AS BIGINT) AS c_x,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM cells
    ), mi AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(FLOOR(CAST(c AS DOUBLE) / n
                        * ln(CAST(c AS DOUBLE) * n
                             / (CAST(r_y AS DOUBLE) * c_x))
                        * 1000000000) AS BIGINT)) AS BIGINT) AS i_e9
        FROM marg
    ), hy AS (
        SELECT CAST(SUM(CAST(FLOOR(-(CAST(r_y AS DOUBLE) / n)
                        * ln(CAST(r_y AS DOUBLE) / n)
                        * 1000000000) AS BIGINT)) AS BIGINT) AS hy_e9
        FROM (SELECT DISTINCT y, r_y, n FROM marg)
    ), hx AS (
        SELECT CAST(SUM(CAST(FLOOR(-(CAST(c_x AS DOUBLE) / n)
                        * ln(CAST(c_x AS DOUBLE) / n)
                        * 1000000000) AS BIGINT)) AS BIGINT) AS hx_e9
        FROM (SELECT DISTINCT x, c_x, n FROM marg)
    )
    SELECT n, i_e9, hy_e9, hx_e9,
           CASE WHEN hy_e9 > 0 THEN
               CAST((GREATEST(i_e9, 0) * 1000000) // hy_e9 AS BIGINT)
           END AS u_y_given_x_e6,
           CASE WHEN hx_e9 > 0 THEN
               CAST((GREATEST(i_e9, 0) * 1000000) // hx_e9 AS BIGINT)
           END AS u_x_given_y_e6
    FROM mi, hy, hx
    """,
)
def agg_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL'S UNCERTAINTY COEFFICIENT both ways (round 12 cont.):
    U(Y|X) = I(X;Y)/H(Y) and U(X|Y) = I/H(X) on the same type ×
    daypart table as agg_mutual_information — the DIRECTIONAL [0,1]
    normalization the symmetric family (MI nats, Cramér's V) cannot
    express: "knowing the daypart removes u% of the uncertainty
    about the event type" is an asymmetric claim, and U(Y|X) ≠
    U(X|Y) precisely when the margins are uneven.

    Exactness: mirrors the MI discipline — exact bigint cells and
    margins; each MI cell term and each margin entropy term evaluates
    in ONE double expression floored e9 BEFORE the order-free bigint
    sum; the two U readouts are exact integer divisions of the e9
    sums (nonneg numerator: I ≥ 0 up to term-flooring, gated on
    positive entropy; i_e9 can be -|cells| at worst from floors, and
    `//`/DIV agree only on nonneg — so the division is gated and
    GREATEST(i_e9,0) feeds it both sides).

    Scale: one map-side count to |types|×4 cells; margins and
    entropies run on the cell table (allowlisted pre-reduced global
    window, bounded by the category domain)."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("y"),
        F.floor(F.hour("ts") / 6).cast("bigint").alias("x"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_y = Window.partitionBy("y")
    w_x = Window.partitionBy("x")
    w_all = Window.partitionBy()
    marg = cells.select(
        "x",
        "y",
        "c",
        F.sum("c").over(w_y).cast("bigint").alias("r_y"),
        F.sum("c").over(w_x).cast("bigint").alias("c_x"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mi_term = F.floor(
        d("c")
        / F.col("n")
        * F.log(d("c") * F.col("n") / (d("r_y") * F.col("c_x")))
        * 1000000000
    ).cast("bigint")
    mi = marg.agg(
        F.max("n").alias("n"),
        F.sum(mi_term).cast("bigint").alias("i_e9"),
    )
    hy = (
        marg.select("y", "r_y", "n")
        .distinct()
        .agg(
            F.sum(
                F.floor(
                    -(d("r_y") / F.col("n"))
                    * F.log(d("r_y") / F.col("n"))
                    * 1000000000
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("hy_e9")
        )
    )
    hx = (
        marg.select("x", "c_x", "n")
        .distinct()
        .agg(
            F.sum(
                F.floor(
                    -(d("c_x") / F.col("n"))
                    * F.log(d("c_x") / F.col("n"))
                    * 1000000000
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("hx_e9")
        )
    )
    j = mi.crossJoin(F.broadcast(hy)).crossJoin(F.broadcast(hx))
    return j.select(
        "n",
        "i_e9",
        "hy_e9",
        "hx_e9",
        F.when(
            F.col("hy_e9") > 0,
            F.expr("(GREATEST(i_e9, 0L) * 1000000) DIV hy_e9"),
        ).alias("u_y_given_x_e6"),
        F.when(
            F.col("hx_e9") > 0,
            F.expr("(GREATEST(i_e9, 0L) * 1000000) DIV hx_e9"),
        ).alias("u_x_given_y_e6"),
    )


# 24 unit-circle directions for hour-of-day circular statistics,
# floored e9 INTEGER literals computed once in Python and shared
# verbatim by both engines (no runtime cos/sin anywhere — the GK
# shared-literal discipline applied to a whole table).
_HOUR_DIRS_E9 = (
    (0, 1000000000, 0), (1, 965925826, 258819045),
    (2, 866025403, 499999999), (3, 707106781, 707106781),
    (4, 500000000, 866025403), (5, 258819045, 965925826),
    (6, 0, 1000000000), (7, -258819046, 965925826),
    (8, -500000000, 866025403), (9, -707106782, 707106781),
    (10, -866025404, 499999999), (11, -965925827, 258819045),
    (12, -1000000000, 0), (13, -965925827, -258819046),
    (14, -866025404, -500000000), (15, -707106782, -707106782),
    (16, -500000001, -866025404), (17, -258819046, -965925827),
    (18, -1, -1000000000), (19, 258819045, -965925827),
    (20, 500000000, -866025404), (21, 707106781, -707106782),
    (22, 866025403, -500000001), (23, 965925826, -258819046),
)

_HOUR_DIRS_SQL = ", ".join(f"({h}, {c}, {s})" for h, c, s in _HOUR_DIRS_E9)


@query(
    "agg_rayleigh_uniformity",
    f"""
    WITH hours AS (
        SELECT event_type,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS n_h
        FROM events GROUP BY 1, 2
    ), dirs (h, c_e9, s_e9) AS (
        VALUES {_HOUR_DIRS_SQL}
    ), cells AS (
        SELECT event_type,
               CAST(SUM(n_h) AS BIGINT) AS n,
               CAST(SUM(n_h * c_e9) AS BIGINT) AS sc_e9,
               CAST(SUM(n_h * s_e9) AS BIGINT) AS ss_e9
        FROM hours JOIN dirs USING (h)
        GROUP BY event_type
    )
    SELECT event_type, n, sc_e9, ss_e9,
           CAST(FLOOR(SQRT(CAST(sc_e9 AS DOUBLE) * sc_e9
                           + CAST(ss_e9 AS DOUBLE) * ss_e9)
                      / n / 1000000000 * 1000000) AS BIGINT)
               AS rbar_e6,
           CAST(FLOOR((CAST(sc_e9 AS DOUBLE) * sc_e9
                       + CAST(ss_e9 AS DOUBLE) * ss_e9)
                      / (CAST(n AS DOUBLE) * 1000000000000000000)
                      * 1000000) AS BIGINT) AS rayleigh_z_e6,
           CAST(FLOOR((CASE WHEN ATAN2(CAST(ss_e9 AS DOUBLE),
                                       CAST(sc_e9 AS DOUBLE)) < 0
                            THEN ATAN2(CAST(ss_e9 AS DOUBLE),
                                       CAST(sc_e9 AS DOUBLE))
                                 + 6.283185307179586
                            ELSE ATAN2(CAST(ss_e9 AS DOUBLE),
                                       CAST(sc_e9 AS DOUBLE)) END)
                      / 6.283185307179586 * 24 * 1000) AS BIGINT)
               AS mean_hour_e3
    FROM cells ORDER BY event_type
    """,
)
def agg_rayleigh_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAYLEIGH TEST of circular uniformity on hour-of-day (round 12
    cont.): per event type, the resultant length R̄ of the unit
    vectors at each event's hour angle, the Rayleigh statistic
    z = n·R̄², and the circular MEAN HOUR — the directional-statistics
    reading of the daily cycle that events_circadian_entropy measures
    information-theoretically: entropy says HOW concentrated, the
    resultant says concentrated WHERE (and z gives the significance
    scale: z ≳ 3 rejects uniformity).

    Exactness: the 24 unit directions are floored-e9 INTEGER literals
    computed once in Python and shared verbatim (the GK
    shared-literal discipline applied to a whole VALUES table — no
    runtime cos/sin); hour counts and the two resultant components
    are exact bigints; R̄/z are one double chain each; the mean hour
    runs atan2 on the SAME two exact integers both sides with the
    branch fixed by 2π as a shared literal.

    Scale: one map-side rollup to |types|×24 cells, a broadcast
    24-row direction join, |types|-row finish."""
    ev = load(spark, sf_dir, "events")
    hours = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("h")
    ).agg(F.count("*").cast("bigint").alias("n_h"))
    dirs = spark.createDataFrame(
        list(_HOUR_DIRS_E9), "h: bigint, c_e9: bigint, s_e9: bigint"
    )
    cells = (
        hours.join(F.broadcast(dirs), "h")
        .groupBy("event_type")
        .agg(
            F.sum("n_h").cast("bigint").alias("n"),
            F.sum(F.col("n_h") * F.col("c_e9")).cast("bigint").alias(
                "sc_e9"
            ),
            F.sum(F.col("n_h") * F.col("s_e9")).cast("bigint").alias(
                "ss_e9"
            ),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r2 = d("sc_e9") * F.col("sc_e9") + d("ss_e9") * F.col("ss_e9")
    theta = F.atan2(d("ss_e9"), d("sc_e9"))
    theta_pos = F.when(theta < 0, theta + 6.283185307179586).otherwise(
        theta
    )
    return cells.select(
        "event_type",
        "n",
        "sc_e9",
        "ss_e9",
        F.floor(F.sqrt(r2) / F.col("n") / 1000000000 * 1000000)
        .cast("bigint")
        .alias("rbar_e6"),
        F.floor(
            r2 / (F.col("n").cast("double") * 1000000000000000000) * 1000000
        )
        .cast("bigint")
        .alias("rayleigh_z_e6"),
        F.floor(theta_pos / 6.283185307179586 * 24 * 1000)
        .cast("bigint")
        .alias("mean_hour_e3"),
    ).orderBy("event_type")


@query(
    "agg_tarone_overdispersion",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(COUNT(*) FILTER (value >= 100.0) AS BIGINT) AS s_i
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_i) AS BIGINT) AS n,
               CAST(SUM(s_i) AS BIGINT) AS s,
               CAST(SUM(n_i * (n_i - 1)) AS BIGINT) AS snn1
        FROM daily GROUP BY event_type
    ), score AS (
        SELECT d.event_type, t.k, t.n, t.s, t.snn1,
               CAST(SUM(CAST(FLOOR(
                   (CAST(d.s_i AS DOUBLE) * t.n - CAST(d.n_i AS DOUBLE) * t.s)
                   * (CAST(d.s_i AS DOUBLE) * t.n - CAST(d.n_i AS DOUBLE) * t.s)
                   / (CAST(d.n_i AS DOUBLE) * t.s * (t.n - t.s))
                   * 1000000) AS BIGINT)) AS BIGINT) AS stat_e6
        FROM daily d JOIN tot t USING (event_type)
        WHERE t.s > 0 AND t.s < t.n
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT event_type, k, n, s, stat_e6,
           CASE WHEN snn1 > 0 THEN
               CAST(FLOOR((CAST(stat_e6 AS DOUBLE) / 1000000 - n)
                          / SQRT(2.0 * snn1) * 1000000) AS BIGINT)
           END AS tarone_z_e6
    FROM score ORDER BY event_type
    """,
)
def agg_tarone_overdispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TARONE'S Z for binomial overdispersion (round 12 cont.): per
    series, does the daily high-value-event count vary MORE than a
    common-rate binomial allows?  S = Σᵢ (sᵢ − nᵢp̂)²/(p̂(1−p̂))
    compared against its null expectation Σnᵢ, standardized by
    √(2Σnᵢ(nᵢ−1)) — the binomial twin of agg_poisson_dispersion and
    the day-level health check behind every proportion-based op this
    round (SPRT, SRM, Cohen's h): if Tarone rejects, those tests'
    binomial variance assumptions understate reality.

    Exactness: daily cells and totals are exact bigints; each day's
    score term is ONE double chain — written via the cross-multiplied
    form (sᵢN − nᵢS)²/(nᵢS(N−S)) so p̂ never materializes — floored
    e6 BEFORE the order-free bigint sum; the Z readout floors one
    more gated double chain.  Degenerate series (S=0 or S=N) drop
    structurally both sides.

    Scale: one (type, day) rollup + a keyed totals join back to the
    calendar-bounded daily tape — map-side combinable everywhere."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.count_if(F.col("value") >= 100.0).cast("bigint").alias("s_i"),
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("s_i").cast("bigint").alias("s"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1))
        .cast("bigint")
        .alias("snn1"),
    )
    j = daily.join(F.broadcast(tot), "event_type").filter(
        (F.col("s") > 0) & (F.col("s") < F.col("n"))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dev = d("s_i") * F.col("n") - d("n_i") * F.col("s")
    term = F.floor(
        dev * dev / (d("n_i") * F.col("s") * (F.col("n") - F.col("s")))
        * 1000000
    ).cast("bigint")
    score = j.groupBy("event_type", "k", "n", "s", "snn1").agg(
        F.sum(term).cast("bigint").alias("stat_e6")
    )
    return score.select(
        "event_type",
        "k",
        "n",
        "s",
        "stat_e6",
        F.when(
            F.col("snn1") > 0,
            F.floor(
                (F.col("stat_e6").cast("double") / 1000000 - F.col("n"))
                / F.sqrt(2.0 * F.col("snn1"))
                * 1000000
            ).cast("bigint"),
        ).alias("tarone_z_e6"),
    ).orderBy("event_type")


@query(
    "agg_fisher_z_corr_diff",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS x,
               CAST(EXTRACT(hour FROM ts) * 3600
                    + EXTRACT(minute FROM ts) * 60
                    + FLOOR(EXTRACT(second FROM ts)) AS BIGINT) AS y
        FROM events WHERE event_type IN ('click', 'purchase')
    ), cells AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM base GROUP BY event_type
    ), corrs AS (
        SELECT event_type, n,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS r
        FROM cells
    ), z AS (
        SELECT MAX(CASE WHEN event_type = 'click' THEN n END) AS n_a,
               MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n_b,
               MAX(CASE WHEN event_type = 'click' THEN
                   0.5 * ln((1.0 + r) / (1.0 - r)) END) AS z_a,
               MAX(CASE WHEN event_type = 'purchase' THEN
                   0.5 * ln((1.0 + r) / (1.0 - r)) END) AS z_b,
               MAX(CASE WHEN event_type = 'click' THEN r END) AS r_a,
               MAX(CASE WHEN event_type = 'purchase' THEN r END) AS r_b
        FROM corrs
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(FLOOR(r_a * 1000000) AS BIGINT) AS r_click_e6,
           CAST(FLOOR(r_b * 1000000) AS BIGINT) AS r_purchase_e6,
           CAST(FLOOR((z_a - z_b)
                      / SQRT(1.0 / (n_a - 3) + 1.0 / (n_b - 3))
                      * 1000000) AS BIGINT) AS fisher_z_e6
    FROM z
    """,
)
def agg_fisher_z_corr_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FISHER-Z TEST for the difference of two correlations (round 12
    cont.): is value↔time-of-day correlation the SAME for clicks and
    purchases?  z = (atanh r_a − atanh r_b)/√(1/(n_a−3)+1/(n_b−3)) —
    the two-sample member the correlation family was missing
    (agg_corr_exact estimates, partial_correlation adjusts, this
    COMPARES), and the md5-free fabric keeps both r ≈ 0, so z ≈ 0 is
    the structural null the referee pins.

    Exactness: per-group moment cells exact (second moments in
    HUGEINT/decimal(38,0) — y is seconds-of-day squared at 7e9-scale
    × 10M rows); r and the z transform are one double chain per
    group written identically (atanh spelled as ½ln((1+r)/(1−r)) —
    the libm-set form both engines share), the difference one more.

    Scale: one events pass to 2 moment cells, a 2-row pivot, 1-row
    finish."""
    ev = load(spark, sf_dir, "events")
    base = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("x"),
        (
            F.hour("ts") * 3600
            + F.minute("ts") * 60
            + F.floor(F.second("ts"))
        )
        .cast("bigint")
        .alias("y"),
    )
    d38 = "decimal(38,0)"
    cells = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = (F.col("n").cast("double") * d("sxy") - d("sx") * d("sy")) / F.sqrt(
        (F.col("n").cast("double") * d("sxx") - d("sx") * d("sx"))
        * (F.col("n").cast("double") * d("syy") - d("sy") * d("sy"))
    )
    corrs = cells.select("event_type", "n", r.alias("r"))
    zc = 0.5 * F.log((1.0 + F.col("r")) / (1.0 - F.col("r")))
    piv = corrs.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias(
            "n_a"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("n"))
        ).alias("n_b"),
        F.max(F.when(F.col("event_type") == "click", zc)).alias("z_a"),
        F.max(F.when(F.col("event_type") == "purchase", zc)).alias(
            "z_b"
        ),
        F.max(F.when(F.col("event_type") == "click", F.col("r"))).alias(
            "r_a"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("r"))
        ).alias("r_b"),
    )
    return piv.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.floor(F.col("r_a") * 1000000).cast("bigint").alias(
            "r_click_e6"
        ),
        F.floor(F.col("r_b") * 1000000).cast("bigint").alias(
            "r_purchase_e6"
        ),
        F.floor(
            (F.col("z_a") - F.col("z_b"))
            / F.sqrt(
                1.0 / (F.col("n_a") - 3) + 1.0 / (F.col("n_b") - 3)
            )
            * 1000000
        )
        .cast("bigint")
        .alias("fisher_z_e6"),
    )


@query(
    "agg_meta_fixed_effect_i2",
    """
    WITH cells AS (
        SELECT CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT)
                   AS stratum,
               CAST(COUNT(*) FILTER (
                   CAST(CAST('0x' || substr(md5('arm:'
                       || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT)
                       % 2 AS BIGINT) = 1 AND value >= 100.0)
                   AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (
                   CAST(CAST('0x' || substr(md5('arm:'
                       || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT)
                       % 2 AS BIGINT) = 1 AND value < 100.0)
                   AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (
                   CAST(CAST('0x' || substr(md5('arm:'
                       || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT)
                       % 2 AS BIGINT) = 0 AND value >= 100.0)
                   AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (
                   CAST(CAST('0x' || substr(md5('arm:'
                       || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT)
                       % 2 AS BIGINT) = 0 AND value < 100.0)
                   AS BIGINT) AS d
        FROM events GROUP BY 1
    ), studies AS (
        SELECT stratum,
               ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                   AS theta,
               CAST(FLOOR(1.0 / (1.0 / a + 1.0 / b + 1.0 / c
                                 + 1.0 / d) * 1000000000) AS BIGINT)
                   AS w_e9,
               CAST(FLOOR(ln(CAST(a AS DOUBLE) * d
                             / (CAST(b AS DOUBLE) * c))
                          * (1.0 / (1.0 / a + 1.0 / b + 1.0 / c
                                    + 1.0 / d))
                          * 1000000000) AS BIGINT) AS wt_e9
        FROM cells WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
    ), pooled AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(w_e9) AS BIGINT) AS sw_e9,
               CAST(SUM(wt_e9) AS BIGINT) AS swt_e9
        FROM studies
    ), q AS (
        SELECT p.k, p.sw_e9, p.swt_e9,
               CAST(SUM(CAST(FLOOR(
                   (CAST(s.w_e9 AS DOUBLE) / 1000000000)
                   * (s.theta - CAST(p.swt_e9 AS DOUBLE) / p.sw_e9)
                   * (s.theta - CAST(p.swt_e9 AS DOUBLE) / p.sw_e9)
                   * 1000000) AS BIGINT)) AS BIGINT) AS q_e6
        FROM studies s, pooled p
        GROUP BY p.k, p.sw_e9, p.swt_e9
    )
    SELECT k,
           CAST(FLOOR(CAST(swt_e9 AS DOUBLE) / sw_e9 * 1000000)
                AS BIGINT) AS pooled_log_or_e6,
           CAST(FLOOR(SQRT(1000000000.0 / sw_e9) * 1000000) AS BIGINT)
               AS pooled_se_e6,
           q_e6,
           CASE WHEN q_e6 > 0 THEN
               CAST(FLOOR(GREATEST((CAST(q_e6 AS DOUBLE) / 1000000
                                    - (k - 1))
                                   / (CAST(q_e6 AS DOUBLE) / 1000000),
                                   0.0) * 1000000) AS BIGINT)
           END AS i2_e6
    FROM q
    """,
)
def agg_meta_fixed_effect_i2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FIXED-EFFECT META-ANALYSIS + I² heterogeneity (round 12
    cont.): inverse-variance pooling of the per-daypart log odds
    ratios — the epidemiology-standard alternative to MH pooling
    (MH weights by bᵢcᵢ/nᵢ; this weights by the Woolf 1/Var(lnOR)),
    with Cochran's Q and I² = (Q−df)/Q quantifying how much of the
    between-stratum spread is real heterogeneity vs noise — the
    continuous companion of agg_breslow_day_homogeneity's yes/no.
    The md5 arm keeps θ̂ ≈ 0 and I² ≈ 0 (referee'd).

    Exactness: 2×2 cells exact; each stratum's lnOR and Woolf weight
    are one double chain over ≤4 rows; the two-stage pooled mean /
    Q uses a 1-row anchor so θ̂ enters Q identically both sides; every
    cross-study sum runs on floored-e9 INTEGERS (w, w·θ, and each
    Q term floored e6 before the sum) so no double ever aggregates —
    the order-free discipline (a first draft summed raw doubles over
    4 strata; that is exactly the reorder-residue class the rule
    forbids).

    Scale: one events pass to ≤4 cells, 1-row anchor, 1-row
    finish."""
    ev = load(spark, sf_dir, "events")
    arm = md5_int(F.lit("arm:"), F.col("user_id").cast("string"), digits=4) % 2
    hi = F.col("value") >= 100.0
    base = ev.select(
        arm.alias("arm"),
        hi.alias("hi"),
        F.floor(F.hour("ts") / 6).cast("bigint").alias("stratum"),
    )
    cells = base.groupBy("stratum").agg(
        F.count_if((F.col("arm") == 1) & F.col("hi"))
        .cast("bigint")
        .alias("a"),
        F.count_if((F.col("arm") == 1) & ~F.col("hi"))
        .cast("bigint")
        .alias("b"),
        F.count_if((F.col("arm") == 0) & F.col("hi"))
        .cast("bigint")
        .alias("c"),
        F.count_if((F.col("arm") == 0) & ~F.col("hi"))
        .cast("bigint")
        .alias("d"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    theta = F.log(dd("a") * F.col("d") / (dd("b") * F.col("c")))
    w = 1.0 / (
        1.0 / F.col("a")
        + 1.0 / F.col("b")
        + 1.0 / F.col("c")
        + 1.0 / F.col("d")
    )
    studies = cells.filter(
        (F.col("a") > 0)
        & (F.col("b") > 0)
        & (F.col("c") > 0)
        & (F.col("d") > 0)
    ).select(
        theta.alias("theta"),
        F.floor(w * 1000000000).cast("bigint").alias("w_e9"),
        F.floor(theta * w * 1000000000).cast("bigint").alias("wt_e9"),
    )
    pooled = studies.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("w_e9").cast("bigint").alias("sw_e9"),
        F.sum("wt_e9").cast("bigint").alias("swt_e9"),
    )
    j = studies.crossJoin(F.broadcast(pooled))
    th = F.col("swt_e9").cast("double") / F.col("sw_e9")
    term = F.floor(
        (F.col("w_e9").cast("double") / 1000000000)
        * (F.col("theta") - th)
        * (F.col("theta") - th)
        * 1000000
    ).cast("bigint")
    q = j.groupBy("k", "sw_e9", "swt_e9").agg(
        F.sum(term).cast("bigint").alias("q_e6")
    )
    return q.select(
        "k",
        F.floor(
            F.col("swt_e9").cast("double") / F.col("sw_e9") * 1000000
        )
        .cast("bigint")
        .alias("pooled_log_or_e6"),
        F.floor(
            F.sqrt(1000000000.0 / F.col("sw_e9")) * 1000000
        )
        .cast("bigint")
        .alias("pooled_se_e6"),
        "q_e6",
        F.when(
            F.col("q_e6") > 0,
            F.floor(
                F.greatest(
                    (
                        F.col("q_e6").cast("double") / 1000000
                        - (F.col("k") - 1)
                    )
                    / (F.col("q_e6").cast("double") / 1000000),
                    F.lit(0.0),
                )
                * 1000000
            ).cast("bigint"),
        ).alias("i2_e6"),
    )


# --- Round-13 rank-test completion ------------------------------------


@query(
    "agg_brunner_munzel",
    """
    WITH s AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS c2
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ), r AS (
        SELECT c1, c2,
               CAST(2 * COALESCE(SUM(c1 + c2) OVER (ORDER BY v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + c1 + c2 + 1 AS BIGINT) AS mid2,
               CAST(2 * COALESCE(SUM(c1) OVER (ORDER BY v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + c1 + 1 AS BIGINT) AS mid2_w1,
               CAST(2 * COALESCE(SUM(c2) OVER (ORDER BY v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + c2 + 1 AS BIGINT) AS mid2_w2
        FROM s
    ), sums AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c1 * mid2) AS BIGINT) AS t1,
               CAST(SUM(c2 * mid2) AS BIGINT) AS t2,
               CAST(SUM(c1 * (mid2 - mid2_w1)) AS BIGINT) AS a1,
               CAST(SUM(c2 * (mid2 - mid2_w2)) AS BIGINT) AS a2,
               SUM(CAST(c1 AS HUGEINT) * (mid2 - mid2_w1)
                   * (mid2 - mid2_w1)) AS q1,
               SUM(CAST(c2 AS HUGEINT) * (mid2 - mid2_w2)
                   * (mid2 - mid2_w2)) AS q2
        FROM r
    )
    SELECT n1, n2,
           CAST(FLOOR((CAST(t2 AS DOUBLE) / n2 - (n2 + 1.0))
                      / (2.0 * n1) * 1000000) AS BIGINT) AS p_hat_e6,
           CAST(FLOOR(
               CAST(n1 AS DOUBLE) * n2
               * (CAST(t2 AS DOUBLE) / n2 - CAST(t1 AS DOUBLE) / n1) / 2.0
               / ((n1 + n2)
                  * SQRT(CAST(n1 AS DOUBLE)
                         * ((CAST(q1 AS DOUBLE)
                             - CAST(a1 AS DOUBLE) * a1 / n1) / 4.0)
                         / (n1 - 1.0)
                         + CAST(n2 AS DOUBLE)
                         * ((CAST(q2 AS DOUBLE)
                             - CAST(a2 AS DOUBLE) * a2 / n2) / 4.0)
                         / (n2 - 1.0)))
               * 10000) AS BIGINT) AS w_e4
    FROM sums
    """,
)
def agg_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRUNNER-MUNZEL generalized Wilcoxon test (round 13): tests
    P(X<Y) + ½P(X=Y) = ½ WITHOUT Mann-Whitney's equal-variance
    (exchangeability) assumption — the recommended default when the
    two groups can differ in shape/variance (the nonparametric
    Behrens-Fisher problem). Emits the stochastic-superiority
    estimate p̂ and the studentized W (scipy's wbfn convention:
    positive when the second group ranks higher).

    Exactness: combined AND within-group midranks in doubled units
    over the distinct-value atom table (both integral); the rank-
    variance pieces need Σ(a − ā)² with a = 2·(combined − within)
    midrank — expanded to Σa² − (Σa)²/n so every accumulation is
    exact (Σa² in HUGEINT/decimal — a is O(N)); doubles enter in ONE
    final shared chain floored e6/e4.

    Scale: three same-ordered cumulative windows over the PRE-REDUCED
    atom table (|distinct values| rows), then one fold — the
    Mann-Whitney shape with one extra per-group prefix each."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.groupBy(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4")
    ).agg(
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("c1"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("c2"),
    )
    wprev = Window.orderBy("v_e4").rowsBetween(Window.unboundedPreceding, -1)
    prev = lambda c: F.coalesce(F.sum(c).over(wprev), F.lit(0))  # noqa: E731
    r = s.select(
        "c1",
        "c2",
        (2 * prev(F.col("c1") + F.col("c2")) + F.col("c1") + F.col("c2") + 1)
        .cast("bigint")
        .alias("mid2"),
        (2 * prev(F.col("c1")) + F.col("c1") + 1)
        .cast("bigint")
        .alias("mid2_w1"),
        (2 * prev(F.col("c2")) + F.col("c2") + 1)
        .cast("bigint")
        .alias("mid2_w2"),
    )
    d38 = "decimal(38,0)"
    a1 = F.col("mid2") - F.col("mid2_w1")
    a2 = F.col("mid2") - F.col("mid2_w2")
    sums = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * F.col("mid2")).cast("bigint").alias("t1"),
        F.sum(F.col("c2") * F.col("mid2")).cast("bigint").alias("t2"),
        F.sum(F.col("c1") * a1).cast("bigint").alias("a1"),
        F.sum(F.col("c2") * a2).cast("bigint").alias("a2"),
        F.sum(F.col("c1").cast(d38) * a1 * a1).alias("q1"),
        F.sum(F.col("c2").cast(d38) * a2 * a2).alias("q2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p_hat = (d("t2") / F.col("n2") - (F.col("n2") + 1.0)) / (2.0 * F.col("n1"))
    s1 = (d("q1") - d("a1") * F.col("a1") / F.col("n1")) / 4.0
    s2 = (d("q2") - d("a2") * F.col("a2") / F.col("n2")) / 4.0
    w = (
        d("n1")
        * F.col("n2")
        * (d("t2") / F.col("n2") - d("t1") / F.col("n1"))
        / 2.0
        / (
            (F.col("n1") + F.col("n2"))
            * F.sqrt(
                d("n1") * s1 / (F.col("n1") - 1.0)
                + d("n2") * s2 / (F.col("n2") - 1.0)
            )
        )
    )
    return sums.select(
        "n1",
        "n2",
        F.floor(p_hat * 1000000).cast("bigint").alias("p_hat_e6"),
        F.floor(w * 10000).cast("bigint").alias("w_e4"),
    )


@query(
    "agg_cucconi",
    """
    WITH s AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS c2
        FROM events WHERE event_type IN ('click', 'signup')
        GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c1 + c2) AS BIGINT) AS nn
        FROM s
    ), r AS (
        SELECT s.c1, s.c2, t.n1, t.n2, t.nn,
               CAST(2 * COALESCE(SUM(s.c1 + s.c2) OVER (ORDER BY s.v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + s.c1 + s.c2 + 1 AS BIGINT) AS mid2
        FROM s, tot t
    ), sums AS (
        SELECT MAX(n1) AS n1, MAX(n2) AS n2, MAX(nn) AS nn,
               SUM(CAST(c2 AS HUGEINT) * mid2 * mid2) AS sq2,
               SUM(CAST(c2 AS HUGEINT)
                   * (2 * (nn + 1) - mid2)
                   * (2 * (nn + 1) - mid2)) AS cq2
        FROM r
    ), uv AS (
        SELECT n1, n2, nn,
               (6.0 * CAST(sq2 AS DOUBLE) / 4.0
                - CAST(n2 AS DOUBLE) * (nn + 1.0) * (2.0 * nn + 1.0))
               / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1.0)
                      * (2.0 * nn + 1.0) * (8.0 * nn + 11.0) / 5.0) AS u,
               (6.0 * CAST(cq2 AS DOUBLE) / 4.0
                - CAST(n2 AS DOUBLE) * (nn + 1.0) * (2.0 * nn + 1.0))
               / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1.0)
                      * (2.0 * nn + 1.0) * (8.0 * nn + 11.0) / 5.0) AS v,
               2.0 * (CAST(nn AS DOUBLE) * nn - 4.0)
               / ((2.0 * nn + 1.0) * (8.0 * nn + 11.0)) - 1.0 AS rho
        FROM sums
    )
    SELECT n1, n2,
           CAST(FLOOR(u * 10000) AS BIGINT) AS u_e4,
           CAST(FLOOR(v * 10000) AS BIGINT) AS v_e4,
           CAST(FLOOR((u * u + v * v - 2.0 * rho * u * v)
                      / (2.0 * (1.0 - rho * rho)) * 10000) AS BIGINT)
               AS c_e4
    FROM uv
    """,
)
def agg_cucconi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUCCONI joint location-scale test (round 13): one statistic for
    "did the distribution move OR spread?" from squared ranks (U) and
    squared CONTRARY ranks (V) of the second sample, combined with
    their known null correlation ρ — older than and often more
    powerful than the Lepage combination, and the standard
    two-sample screen when either shift alone would be missed.

    Exactness: squared doubled midranks accumulate in HUGEINT/decimal
    (Σc·mid2² is O(N³) — int64 dies at sf10, the gini discipline);
    U, V, ρ and the quadratic form are ONE shared double chain
    floored e4. Under H₀, C ≈ χ²₂/2-ish calibration (referee asserts
    U²+V² symmetry: swapping ranks for contrary ranks swaps U and V —
    structurally true by construction here).

    Scale: the Mann-Whitney atom-table shape — one ordered pass over
    distinct values, one fold."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "signup")
    )
    s = ev.groupBy(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4")
    ).agg(
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("c1"),
        F.count_if(F.col("event_type") == "signup")
        .cast("bigint")
        .alias("c2"),
    )
    wprev = Window.orderBy("v_e4").rowsBetween(Window.unboundedPreceding, -1)
    r = s.select(
        "c1",
        "c2",
        (2 * F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wprev), F.lit(0))
         + F.col("c1") + F.col("c2") + 1)
        .cast("bigint")
        .alias("mid2"),
    )
    d38 = "decimal(38,0)"
    w_all = Window.partitionBy()
    r2 = r.withColumn(
        "contra2",
        2 * (F.sum(F.col("c1") + F.col("c2")).over(w_all) + 1) - F.col("mid2"),
    )
    sums = r2.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") + F.col("c2")).cast("bigint").alias("nn"),
        F.sum(F.col("c2").cast(d38) * F.col("mid2") * F.col("mid2")).alias(
            "sq2"
        ),
        F.sum(
            F.col("c2").cast(d38) * F.col("contra2") * F.col("contra2")
        ).alias("cq2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    den = F.sqrt(
        d("n1") * F.col("n2") * (F.col("nn") + 1.0)
        * (2.0 * F.col("nn") + 1.0) * (8.0 * F.col("nn") + 11.0) / 5.0
    )
    u = (
        6.0 * d("sq2") / 4.0
        - d("n2") * (F.col("nn") + 1.0) * (2.0 * F.col("nn") + 1.0)
    ) / den
    v = (
        6.0 * d("cq2") / 4.0
        - d("n2") * (F.col("nn") + 1.0) * (2.0 * F.col("nn") + 1.0)
    ) / den
    rho = (
        2.0 * (d("nn") * F.col("nn") - 4.0)
        / ((2.0 * F.col("nn") + 1.0) * (8.0 * F.col("nn") + 11.0))
        - 1.0
    )
    c_stat = (u * u + v * v - 2.0 * rho * u * v) / (2.0 * (1.0 - rho * rho))
    return sums.select(
        "n1",
        "n2",
        F.floor(u * 10000).cast("bigint").alias("u_e4"),
        F.floor(v * 10000).cast("bigint").alias("v_e4"),
        F.floor(c_stat * 10000).cast("bigint").alias("c_e4"),
    )


@query(
    "agg_lepage",
    """
    WITH s AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS c2
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c1 + c2) AS BIGINT) AS nn
        FROM s
    ), r AS (
        SELECT s.c1, s.c2, t.n1, t.n2, t.nn,
               CAST(2 * COALESCE(SUM(s.c1 + s.c2) OVER (ORDER BY s.v_e4
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + s.c1 + s.c2 + 1 AS BIGINT) AS mid2
        FROM s, tot t
    ), sums AS (
        SELECT MAX(n1) AS n1, MAX(n2) AS n2, MAX(nn) AS nn,
               CAST(SUM(c1 * mid2) AS BIGINT) AS w2,
               CAST(SUM(c1 * LEAST(mid2, 2 * (nn + 1) - mid2)) AS BIGINT)
                   AS ab2
        FROM r
    ), z AS (
        SELECT n1, n2, w2, ab2,
               (CAST(w2 AS DOUBLE) / 2.0
                - CAST(n1 AS DOUBLE) * (nn + 1.0) / 2.0)
               / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1.0) / 12.0) AS zw,
               CASE WHEN nn % 2 = 0 THEN
                   (CAST(ab2 AS DOUBLE) / 2.0
                    - CAST(n1 AS DOUBLE) * (nn + 2.0) / 4.0)
                   / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 2.0)
                          * (nn - 2.0) / (48.0 * (nn - 1.0)))
               ELSE
                   (CAST(ab2 AS DOUBLE) / 2.0
                    - CAST(n1 AS DOUBLE) * (nn + 1.0) * (nn + 1.0)
                      / (4.0 * nn))
                   / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1.0)
                          * (3.0 + CAST(nn AS DOUBLE) * nn)
                          / (48.0 * CAST(nn AS DOUBLE) * nn))
               END AS za
        FROM sums
    )
    SELECT n1, n2, w2, ab2,
           CAST(FLOOR(zw * 10000) AS BIGINT) AS z_wilcoxon_e4,
           CAST(FLOOR(za * 10000) AS BIGINT) AS z_ansari_e4,
           CAST(FLOOR((zw * zw + za * za) * 10000) AS BIGINT)
               AS lepage_e4
    FROM z
    """,
)
def agg_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEPAGE joint location-scale test (round 13): standardized
    Wilcoxon rank-sum z (location) squared plus standardized
    Ansari-Bradley z (scale) squared — χ²₂ under H₀; the classic
    combination the Cucconi test competes with, kept side-by-side so
    the two joint screens referee each other on the same fixture.

    Exactness: both component statistics come from the same doubled-
    midrank atom pass (W×2 and AB×2 exact bigints, the agg_mann_whitney
    / agg_ansari_bradley conventions — same untie-corrected null
    moments, even/odd-N Ansari CASE); the two z's and the sum of
    squares are ONE shared double chain floored e4.

    Scale: one ordered pass over the distinct-value atom table, one
    fold — strictly cheaper than running the two member tests
    separately."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    s = ev.groupBy(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4")
    ).agg(
        F.count_if(F.col("event_type") == "view").cast("bigint").alias("c1"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("c2"),
    )
    tot = s.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") + F.col("c2")).cast("bigint").alias("nn"),
    )
    wprev = Window.orderBy("v_e4").rowsBetween(Window.unboundedPreceding, -1)
    r = s.select(
        "c1",
        "c2",
        (2 * F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wprev), F.lit(0))
         + F.col("c1") + F.col("c2") + 1)
        .cast("bigint")
        .alias("mid2"),
    ).crossJoin(F.broadcast(tot))
    sums = r.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.max("nn").cast("bigint").alias("nn"),
        F.sum(F.col("c1") * F.col("mid2")).cast("bigint").alias("w2"),
        F.sum(
            F.col("c1")
            * F.least(F.col("mid2"), 2 * (F.col("nn") + 1) - F.col("mid2"))
        )
        .cast("bigint")
        .alias("ab2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    zw = (d("w2") / 2.0 - d("n1") * (F.col("nn") + 1.0) / 2.0) / F.sqrt(
        d("n1") * F.col("n2") * (F.col("nn") + 1.0) / 12.0
    )
    za_even = (
        d("ab2") / 2.0 - d("n1") * (F.col("nn") + 2.0) / 4.0
    ) / F.sqrt(
        d("n1") * F.col("n2") * (F.col("nn") + 2.0) * (F.col("nn") - 2.0)
        / (48.0 * (F.col("nn") - 1.0))
    )
    za_odd = (
        d("ab2") / 2.0
        - d("n1") * (F.col("nn") + 1.0) * (F.col("nn") + 1.0)
        / (4.0 * F.col("nn"))
    ) / F.sqrt(
        d("n1") * F.col("n2") * (F.col("nn") + 1.0)
        * (3.0 + d("nn") * F.col("nn"))
        / (48.0 * d("nn") * F.col("nn"))
    )
    za = F.when(F.col("nn") % 2 == 0, za_even).otherwise(za_odd)
    return sums.select(
        "n1",
        "n2",
        "w2",
        "ab2",
        F.floor(zw * 10000).cast("bigint").alias("z_wilcoxon_e4"),
        F.floor(za * 10000).cast("bigint").alias("z_ansari_e4"),
        F.floor((zw * zw + za * za) * 10000).cast("bigint").alias("lepage_e4"),
    )


@query(
    "agg_kendall_w",
    """
    WITH grid AS (
        SELECT u.user_id, t.event_type
        FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 50) u
        CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    ), cell AS (
        SELECT g.user_id, g.event_type,
               COALESCE(SUM(CAST(FLOOR(e.value * 10000) AS BIGINT)), 0)
                   AS score
        FROM grid g
        LEFT JOIN events e
          ON e.user_id = g.user_id AND e.event_type = g.event_type
         AND e.user_id < 50
        GROUP BY 1, 2
    ), ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY score ASC, user_id ASC) AS r
        FROM cell
    ), subj AS (
        SELECT user_id, CAST(SUM(r) AS BIGINT) AS ri,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM ranked GROUP BY user_id
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(m) AS m,
               CAST(SUM(ri * ri) AS BIGINT) AS sr2
        FROM subj
    )
    SELECT n, m,
           CAST((12 * sr2 - 3 * m * m * n * (n + 1) * (n + 1)) * 1000000
                // (m * m * (n * n * n - n)) AS BIGINT) AS w_e6,
           CAST((12 * sr2 - 3 * m * m * n * (n + 1) * (n + 1)) * 10000
                * (n - 1)
                // (m * (n * n * n - n)) AS BIGINT) AS chi2_e4
    FROM s
    """,
)
def agg_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S W coefficient of concordance (round 13): do the five
    event-type "raters" rank the user panel consistently?  Subjects =
    users 0–49, per-rater score = the user's summed e4 engagement in
    that type (absent cells score 0 via the explicit user×type grid),
    ranks tie-pinned (score, user_id) so every rank is a DISTINCT
    integer — W = (12·ΣRᵢ² − 3m²n(n+1)²)/(m²(n³−n)) and the χ² =
    m(n−1)W companion are then PURE INTEGER arithmetic end-to-end
    (floor-divided e6/e4; numerator ≥ 0 so // = DIV). The
    multi-rater generalization of agg_spearman_corr; Friedman's test
    (agg_friedman_page_trend) is m(n−1)W by identity.

    Scale: one keyed rollup to the n×m cell table, m keyed rank
    windows, one fold — the grid is |panel|×|raters|, never
    corpus-sized."""
    ev = load(spark, sf_dir, "events")
    users = ev.filter(F.col("user_id") < 50).select("user_id").distinct()
    types = ev.select("event_type").distinct()
    grid = users.crossJoin(F.broadcast(types))
    scores = (
        ev.filter(F.col("user_id") < 50)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum(F.floor(F.col("value") * 10000).cast("bigint")).alias(
                "sc"
            )
        )
    )
    cell = grid.join(scores, ["user_id", "event_type"], "left").select(
        "user_id",
        "event_type",
        F.coalesce(F.col("sc"), F.lit(0)).alias("score"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("score").asc(), F.col("user_id").asc()
    )
    ranked = cell.select(
        "user_id", F.row_number().over(w_rank).alias("r")
    )
    subj = ranked.groupBy("user_id").agg(
        F.sum("r").cast("bigint").alias("ri"),
        F.count("*").cast("bigint").alias("m"),
    )
    s = subj.agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("m").cast("bigint").alias("m"),
        F.sum(F.col("ri") * F.col("ri")).cast("bigint").alias("sr2"),
    )
    num = 12 * F.col("sr2") - 3 * F.col("m") * F.col("m") * F.col("n") * (
        F.col("n") + 1
    ) * (F.col("n") + 1)
    den = F.col("m") * F.col("m") * (
        F.col("n") * F.col("n") * F.col("n") - F.col("n")
    )
    return s.select(
        "n",
        "m",
        F.expr(
            "CAST((12 * sr2 - 3 * m * m * n * (n + 1) * (n + 1)) * 1000000"
            " DIV (m * m * (n * n * n - n)) AS BIGINT)"
        ).alias("w_e6"),
        F.expr(
            "CAST((12 * sr2 - 3 * m * m * n * (n + 1) * (n + 1)) * 10000"
            " * (n - 1) DIV (m * (n * n * n - n)) AS BIGINT)"
        ).alias("chi2_e4"),
    )


@query(
    "agg_somers_d",
    """
    WITH cells AS (
        SELECT CAST(l_linenumber AS BIGINT) AS x,
               CAST(FLOOR(l_quantity) AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
    ), cd AS (
        SELECT CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS cc,
               CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS dd
        FROM cells a JOIN cells b ON NOT (a.x = b.x AND a.y = b.y)
    ), tx AS (
        SELECT CAST(SUM(nx * (nx - 1) // 2) AS BIGINT) AS tx_all
        FROM (SELECT x, SUM(c) AS nx FROM cells GROUP BY x)
    ), ty AS (
        SELECT CAST(SUM(ny * (ny - 1) // 2) AS BIGINT) AS ty_all
        FROM (SELECT y, SUM(c) AS ny FROM cells GROUP BY y)
    )
    SELECT t.n, cd.cc AS c_pairs, cd.dd AS d_pairs,
           CAST(FLOOR(CAST(cd.cc - cd.dd AS DOUBLE)
                      / (CAST(t.n AS DOUBLE) * (t.n - 1) / 2.0 - tx.tx_all)
                      * 1000000) AS BIGINT) AS d_yx_e6,
           CAST(FLOOR(CAST(cd.cc - cd.dd AS DOUBLE)
                      / (CAST(t.n AS DOUBLE) * (t.n - 1) / 2.0 - ty.ty_all)
                      * 1000000) AS BIGINT) AS d_xy_e6
    FROM tot t, cd, tx, ty
    """,
)
def agg_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOMERS' D ordinal association (round 13), both directions, on
    (line number → quantity): the asymmetric cousin of Kendall's τ —
    D(Y|X) = (C−D)/(pairs not tied on X) reads "given X orders a pair,
    how much does Y agree?", the standard effect size for an ordinal
    predictor of an ordinal outcome (and the Gini/AUC connection:
    D = 2·AUC − 1 for binary Y).

    Exactness: concordant/discordant pair counts come from the
    CONTINGENCY-CELL self-join (ordered cell pairs, each unordered
    data pair counted once), tie masses from the marginals — all
    exact bigints (pair counts ≤ n²/2, inside int64 through sf100);
    the two ratios are ONE double chain each, floored e6 (signed
    numerator → FLOOR, never DIV).

    Scale: one keyed rollup to the |x-levels|×|y-levels| grid (350
    cells here), a bounded grid self-join, two marginal folds — the
    corpus is touched once."""
    li = load(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_linenumber").cast("bigint").alias("x"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("y"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("c").alias("c2")
    )
    cd = (
        cells.join(
            F.broadcast(b),
            ~((F.col("x") == F.col("x2")) & (F.col("y") == F.col("y2"))),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("x2") > F.col("x")) & (F.col("y2") > F.col("y")),
                    F.col("c") * F.col("c2"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("cc"),
            F.sum(
                F.when(
                    (F.col("x2") > F.col("x")) & (F.col("y2") < F.col("y")),
                    F.col("c") * F.col("c2"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("dd"),
        )
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("nx"))
        .agg(
            F.sum(F.expr("nx * (nx - 1) DIV 2")).cast("bigint").alias("tx_all")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("ny"))
        .agg(
            F.sum(F.expr("ny * (ny - 1) DIV 2")).cast("bigint").alias("ty_all")
        )
    )
    s = tot.crossJoin(cd).crossJoin(tx).crossJoin(ty)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n0 = d("n") * (F.col("n") - 1) / 2.0
    return s.select(
        "n",
        F.col("cc").alias("c_pairs"),
        F.col("dd").alias("d_pairs"),
        F.floor((d("cc") - F.col("dd")) / (n0 - F.col("tx_all")) * 1000000)
        .cast("bigint")
        .alias("d_yx_e6"),
        F.floor((d("cc") - F.col("dd")) / (n0 - F.col("ty_all")) * 1000000)
        .cast("bigint")
        .alias("d_xy_e6"),
    )


@query(
    "agg_stuart_tau_c",
    """
    WITH cells AS (
        SELECT CAST(l_linenumber AS BIGINT) AS x,
               CAST(FLOOR(l_quantity) AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(LEAST(COUNT(DISTINCT x), COUNT(DISTINCT y)) AS BIGINT)
                   AS m
        FROM cells
    ), cd AS (
        SELECT CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS cc,
               CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS dd
        FROM cells a JOIN cells b ON NOT (a.x = b.x AND a.y = b.y)
    )
    SELECT t.n, t.m, cd.cc AS c_pairs, cd.dd AS d_pairs,
           CAST(FLOOR(2.0 * t.m * (CAST(cd.cc AS DOUBLE) - cd.dd)
                      / (CAST(t.n AS DOUBLE) * t.n * (t.m - 1))
                      * 1000000) AS BIGINT) AS tau_c_e6
    FROM tot t, cd
    """,
)
def agg_stuart_tau_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STUART'S τ-c (round 13) on the same (line number → quantity)
    contingency as agg_somers_d: the Kendall-family measure corrected
    for a RECTANGULAR table — τ-b can't reach ±1 when the two ordinal
    scales have different numbers of levels (7×50 here); τ-c =
    2m(C−D)/(n²(m−1)) with m = min(rows, cols) restores the bound.
    Completes the ordinal suite: τ (paired ranks), γ (ties dropped),
    Somers' D (asymmetric), τ-c (rectangular).

    Exactness: same exact-bigint cell-pair machinery; one double
    chain floored e6.

    Scale: identical to agg_somers_d — grid rollup + bounded cell
    self-join."""
    li = load(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_linenumber").cast("bigint").alias("x"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("y"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.least(
            F.countDistinct("x"), F.countDistinct("y")
        ).cast("bigint").alias("m"),
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("c").alias("c2")
    )
    cd = (
        cells.join(
            F.broadcast(b),
            ~((F.col("x") == F.col("x2")) & (F.col("y") == F.col("y2"))),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("x2") > F.col("x")) & (F.col("y2") > F.col("y")),
                    F.col("c") * F.col("c2"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("cc"),
            F.sum(
                F.when(
                    (F.col("x2") > F.col("x")) & (F.col("y2") < F.col("y")),
                    F.col("c") * F.col("c2"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("dd"),
        )
    )
    s = tot.crossJoin(cd)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    tau_c = (
        2.0 * F.col("m") * (d("cc") - F.col("dd"))
        / (d("n") * F.col("n") * (F.col("m") - 1))
    )
    return s.select(
        "n",
        "m",
        F.col("cc").alias("c_pairs"),
        F.col("dd").alias("d_pairs"),
        F.floor(tau_c * 1000000).cast("bigint").alias("tau_c_e6"),
    )


# --- Round-13 inequality / shape completion ---------------------------


@query(
    "agg_atkinson_index",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), terms AS (
        SELECT cents,
               CAST(FLOOR(ln(CAST(cents AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS ln_e9
        FROM spend WHERE cents > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(FLOOR((1.0 - exp(CAST(SUM(ln_e9) AS DOUBLE) / 1000000000.0
                                 / COUNT(*))
                             * COUNT(*) / CAST(SUM(cents) AS DOUBLE))
                      * 1000000) AS BIGINT) AS atkinson1_e6
    FROM terms
    """,
)
def agg_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATKINSON inequality index at ε=1 (round 13): A₁ = 1 −
    geomean/mean over per-customer spend — the welfare-theoretic
    complement to agg_gini_concentration (Gini weights transfers by
    rank; Atkinson-1 weights them by the LOG utility of the poorer
    side, so it moves more when inequality comes from the bottom).

    Exactness: each ln(cents) floors to e9 BEFORE the order-free
    bigint sum (the gk term-flooring rule — a raw float Σln is
    partition-order dependent); the exp/mean chain is ONE final
    shared double expression. Zero-spend customers are excluded by
    definition (log utility).

    Scale: one keyed rollup + one fold; the log is per-customer, not
    per-order."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    terms = spend.filter(F.col("cents") > 0).select(
        "cents",
        F.floor(F.log(F.col("cents").cast("double")) * 1000000000)
        .cast("bigint")
        .alias("ln_e9"),
    )
    s = terms.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum("ln_e9").alias("sln"),
    )
    a1 = 1.0 - F.exp(
        F.col("sln").cast("double") / 1000000000.0 / F.col("n")
    ) * F.col("n") / F.col("total_cents").cast("double")
    return s.select(
        "n",
        "total_cents",
        F.floor(a1 * 1000000).cast("bigint").alias("atkinson1_e6"),
    )


@query(
    "agg_hoover_index",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s
        FROM spend
    )
    SELECT MAX(t.n) AS n, MAX(t.s) AS total_cents,
           CAST(FLOOR(CAST(SUM(ABS(CAST(t.n AS HUGEINT) * p.cents - t.s))
                           AS DOUBLE)
                      / (2.0 * MAX(t.n) * CAST(MAX(t.s) AS DOUBLE))
                      * 1000000) AS BIGINT) AS hoover_e6
    FROM spend p, tot t
    """,
)
def agg_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOOVER (Robin Hood) index (round 13): Σ|xᵢ − μ|/(2Σx) — the
    share of total spend that would have to move between customers to
    equalize everyone; the most interpretable member of the
    inequality suite (Gini = rank-weighted, Atkinson = welfare,
    Hoover = mass to move).

    Exactness: the deviation |n·xᵢ − S| never materializes the mean
    (DIV-means rule) and accumulates in HUGEINT/decimal (n·x is
    O(n·max) — int64 dies at sf10-scale sums); ONE final double
    normalization floored e6.

    Scale: keyed rollup + broadcast 1-row totals + one fold."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    tot = spend.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    d38 = "decimal(38,0)"
    joined = spend.crossJoin(F.broadcast(tot))
    s = joined.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("s").cast("bigint").alias("total_cents"),
        F.sum(
            F.abs(F.col("n").cast(d38) * F.col("cents") - F.col("s"))
        ).alias("dev"),
    )
    hoover = (
        F.col("dev").cast("double")
        / (2.0 * F.col("n") * F.col("total_cents").cast("double"))
    )
    return s.select(
        "n",
        "total_cents",
        F.floor(hoover * 1000000).cast("bigint").alias("hoover_e6"),
    )


@query(
    "agg_palma_ratio",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS r,
               COUNT(*) OVER () AS n
        FROM spend
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN r > (9 * n) // 10 THEN cents ELSE 0 END)
                AS BIGINT) AS top10_cents,
           CAST(SUM(CASE WHEN r <= (4 * n) // 10 THEN cents ELSE 0 END)
                AS BIGINT) AS bottom40_cents,
           CAST(FLOOR(CAST(SUM(CASE WHEN r > (9 * n) // 10
                                    THEN cents ELSE 0 END) AS DOUBLE)
                      / SUM(CASE WHEN r <= (4 * n) // 10
                                 THEN cents ELSE 0 END)
                      * 1000000) AS BIGINT) AS palma_e6
    FROM ranked
    """,
)
def agg_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PALMA ratio (round 13): top-10% spend share over bottom-40%
    share — the inequality readout policy work prefers to Gini
    because the middle 50% is empirically stable, so the tails carry
    the signal. Membership is rank-exact: ascending (cents, custkey)
    row_number with integer cutoffs 9n DIV 10 / 4n DIV 10 — no
    percentile interpolation, no floats until the one final ratio
    (floored e6).

    Scale: the global rank runs over the per-customer AGGREGATE
    (|customers| rows) — the agg_gini_concentration posture, same
    two-pass distributed-rank scale path."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy(F.col("cents").asc(), F.col("o_custkey").asc())
    w_all = Window.partitionBy()
    ranked = spend.select(
        "cents",
        F.row_number().over(w).alias("r"),
        F.count("*").over(w_all).alias("n"),
    )
    top = F.sum(
        F.when(F.col("r") > F.expr("(9 * n) DIV 10"), F.col("cents")).otherwise(
            F.lit(0)
        )
    )
    bot = F.sum(
        F.when(
            F.col("r") <= F.expr("(4 * n) DIV 10"), F.col("cents")
        ).otherwise(F.lit(0))
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n"),
        top.cast("bigint").alias("top10_cents"),
        bot.cast("bigint").alias("bottom40_cents"),
        F.floor(top.cast("double") / bot * 1000000)
        .cast("bigint")
        .alias("palma_e6"),
    )


@query(
    "agg_quantile_shape",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS r,
               COUNT(*) OVER () AS n
        FROM spend
    ), oct AS (
        SELECT MAX(n) AS n,
               MAX(CASE WHEN r = (1 * n + 7) // 8 THEN cents END) AS e1,
               MAX(CASE WHEN r = (2 * n + 7) // 8 THEN cents END) AS e2,
               MAX(CASE WHEN r = (3 * n + 7) // 8 THEN cents END) AS e3,
               MAX(CASE WHEN r = (4 * n + 7) // 8 THEN cents END) AS e4,
               MAX(CASE WHEN r = (5 * n + 7) // 8 THEN cents END) AS e5,
               MAX(CASE WHEN r = (6 * n + 7) // 8 THEN cents END) AS e6,
               MAX(CASE WHEN r = (7 * n + 7) // 8 THEN cents END) AS e7
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(e2 AS BIGINT) AS q1_cents,
           CAST(e4 AS BIGINT) AS q2_cents,
           CAST(e6 AS BIGINT) AS q3_cents,
           CAST(FLOOR(CAST(e6 + e2 - 2 * e4 AS DOUBLE) / (e6 - e2)
                      * 1000000) AS BIGINT) AS bowley_skew_e6,
           CAST(FLOOR(CAST((e7 - e5) + (e3 - e1) AS DOUBLE) / (e6 - e2)
                      * 1000000) AS BIGINT) AS moors_kurt_e6
    FROM oct
    """,
)
def agg_quantile_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based shape statistics (round 13): BOWLEY skewness
    (Q₃+Q₁−2·Q₂)/(Q₃−Q₁) and MOORS kurtosis ((E₇−E₅)+(E₃−E₁))/(E₆−E₂)
    over per-customer spend — the outlier-proof complements to the
    moment-based agg_higher_moments (one whale rewrites g₁/g₂; it
    cannot move an octile). Quantiles are DISCRETE order statistics:
    rank ceil(q·n) = (q·n + 7) DIV 8 of the (cents, custkey)
    tie-pinned ascending rank — exact data values, no interpolation,
    floats only in the two final ratios (floored e6).

    Scale: one global rank over the per-customer aggregate (the gini
    posture); the octile pick is a one-fold CASE."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy(F.col("cents").asc(), F.col("o_custkey").asc())
    w_all = Window.partitionBy()
    ranked = spend.select(
        "cents",
        F.row_number().over(w).alias("r"),
        F.count("*").over(w_all).alias("n"),
    )
    def oct_pick(k: int):
        return F.max(
            F.when(
                F.col("r") == F.expr(f"({k} * n + 7) DIV 8"), F.col("cents")
            )
        )
    oct = ranked.agg(
        F.max("n").cast("bigint").alias("n"),
        *[oct_pick(k).alias(f"e{k}") for k in range(1, 8)],
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    bowley = (
        (F.col("e6") + F.col("e2") - 2 * F.col("e4")).cast("double")
        / (F.col("e6") - F.col("e2"))
    )
    moors = (
        ((F.col("e7") - F.col("e5")) + (F.col("e3") - F.col("e1")))
        .cast("double")
        / (F.col("e6") - F.col("e2"))
    )
    return oct.select(
        "n",
        F.col("e2").cast("bigint").alias("q1_cents"),
        F.col("e4").cast("bigint").alias("q2_cents"),
        F.col("e6").cast("bigint").alias("q3_cents"),
        F.floor(bowley * 1000000).cast("bigint").alias("bowley_skew_e6"),
        F.floor(moors * 1000000).cast("bigint").alias("moors_kurt_e6"),
    )


@query(
    "agg_sarle_bimodality",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS dollars
        FROM orders GROUP BY o_custkey
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dollars) AS BIGINT) AS s1,
               SUM(CAST(dollars AS HUGEINT) * dollars) AS s2,
               SUM(CAST(dollars AS HUGEINT) * dollars * dollars) AS s3,
               SUM(CAST(dollars AS HUGEINT) * dollars * dollars * dollars)
                   AS s4
        FROM spend
    ), mom AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS m1,
               CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS m2,
               CAST(s3 AS DOUBLE) / n
                   - 3.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s2 AS DOUBLE) / n)
                   + 2.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n) AS m3,
               CAST(s4 AS DOUBLE) / n
                   - 4.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s3 AS DOUBLE) / n)
                   + 6.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s2 AS DOUBLE) / n)
                   - 3.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n) AS m4
        FROM s
    )
    SELECT n,
           CAST(FLOOR(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) * 1000000)
                AS BIGINT) AS g1_e6,
           CAST(FLOOR((m4 / (m2 * m2) - 3.0) * 1000000) AS BIGINT)
               AS g2_e6,
           CAST(FLOOR((m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))
                       * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))) + 1.0)
                      / ((m4 / (m2 * m2) - 3.0)
                         + 3.0 * (n - 1.0) * (n - 1.0)
                           / ((n - 2.0) * (n - 3.0)))
                      * 1000000) AS BIGINT) AS sarle_b_e6
    FROM mom
    """,
)
def agg_sarle_bimodality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SARLE'S bimodality coefficient (round 13): b = (g₁²+1)/(g₂ +
    3(n−1)²/((n−2)(n−3))) from skewness g₁ and excess kurtosis g₂ —
    b > 5/9 flags a distribution more bimodal than uniform, the cheap
    screen run before fitting agg_em_gaussian_1d's two-component
    mixture (the moment-arithmetic complement to that iterative fit).

    Exactness: raw power sums Σx..Σx⁴ accumulate in HUGEINT/decimal
    (a dollars⁴ term is ~1e28 — int64 is long gone; e2 cents would
    push past decimal(38) at sf10 row counts, so the quantization is
    whole DOLLARS, documented); the central-moment/ratio algebra is
    ONE shared double chain (identical association both engines)
    floored e6.

    Scale: one keyed rollup + one fold — power sums are
    partial-aggregatable, the canonical map-side-combine shape."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("dollars")
    )
    d38 = "decimal(38,0)"
    x = F.col("dollars")
    s = spend.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dollars").cast("bigint").alias("s1"),
        F.sum(x.cast(d38) * x).alias("s2"),
        F.sum(x.cast(d38) * x * x).alias("s3"),
        F.sum(x.cast(d38) * x * x * x).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - m1 * m1
    m3 = (
        F.col("s3").cast("double") / n
        - 3.0 * m1 * (F.col("s2").cast("double") / n)
        + 2.0 * m1 * m1 * m1
    )
    m4 = (
        F.col("s4").cast("double") / n
        - 4.0 * m1 * (F.col("s3").cast("double") / n)
        + 6.0 * m1 * m1 * (F.col("s2").cast("double") / n)
        - 3.0 * m1 * m1 * m1 * m1
    )
    g1 = m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - 3.0
    sarle = (g1 * g1 + 1.0) / (
        g2 + 3.0 * (n - 1.0) * (n - 1.0) / ((n - 2.0) * (n - 3.0))
    )
    return s.select(
        "n",
        F.floor(g1 * 1000000).cast("bigint").alias("g1_e6"),
        F.floor(g2 * 1000000).cast("bigint").alias("g2_e6"),
        F.floor(sarle * 1000000).cast("bigint").alias("sarle_b_e6"),
    )


@query(
    "agg_yule_q",
    """
    WITH flags AS (
        SELECT CASE WHEN value >= 50 THEN 1 ELSE 0 END AS hi,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS wend
        FROM events
    ), cells AS (
        SELECT CAST(COUNT(*) FILTER (hi = 1 AND wend = 1) AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (hi = 1 AND wend = 0) AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (hi = 0 AND wend = 1) AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (hi = 0 AND wend = 0) AS BIGINT) AS d
        FROM flags
    )
    SELECT a, b, c, d,
           CAST(FLOOR((CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                      / (CAST(a AS DOUBLE) * d + CAST(b AS DOUBLE) * c)
                      * 1000000) AS BIGINT) AS yule_q_e6,
           CAST(FLOOR((sqrt(CAST(a AS DOUBLE) * d)
                       - sqrt(CAST(b AS DOUBLE) * c))
                      / (sqrt(CAST(a AS DOUBLE) * d)
                         + sqrt(CAST(b AS DOUBLE) * c))
                      * 1000000) AS BIGINT) AS yule_y_e6
    FROM cells
    """,
)
def agg_yule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YULE'S Q and Y for the 2×2 (high-value × weekend) table (round
    13): Q = (ad−bc)/(ad+bc) is the odds ratio mapped onto [−1,1]
    (the OR itself is agg_odds_ratio; Q is its bounded effect-size
    form), Y = (√ad−√bc)/(√ad+√bc) the colligation coefficient that
    undoes Q's tendency to saturate. Same margins as agg_odds_ratio,
    so the two rows referee each other through Q = (OR−1)/(OR+1).

    Exactness: the four cell counts are one exact filtered fold; ad
    and bc enter doubles as single products (≤ n², exact in double
    through sf10) in ONE shared chain each, floored e6.

    Scale: a single filtered-count aggregate — the cheapest shape in
    the registry."""
    ev = load(spark, sf_dir, "events")
    flags = ev.select(
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("hi"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wend"),
    )
    cells = flags.agg(
        F.count_if((F.col("hi") == 1) & (F.col("wend") == 1))
        .cast("bigint")
        .alias("a"),
        F.count_if((F.col("hi") == 1) & (F.col("wend") == 0))
        .cast("bigint")
        .alias("b"),
        F.count_if((F.col("hi") == 0) & (F.col("wend") == 1))
        .cast("bigint")
        .alias("c"),
        F.count_if((F.col("hi") == 0) & (F.col("wend") == 0))
        .cast("bigint")
        .alias("d"),
    )
    ad = F.col("a").cast("double") * F.col("d")
    bc = F.col("b").cast("double") * F.col("c")
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.floor((ad - bc) / (ad + bc) * 1000000)
        .cast("bigint")
        .alias("yule_q_e6"),
        F.floor(
            (F.sqrt(ad) - F.sqrt(bc)) / (F.sqrt(ad) + F.sqrt(bc)) * 1000000
        )
        .cast("bigint")
        .alias("yule_y_e6"),
    )


@query(
    "agg_scott_pi",
    """
    WITH rated AS (
        SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                         >= 30 THEN 1 ELSE 0 END AS b
        FROM documents
    ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (a = 1 AND b = 1) AS BIGINT) AS n11,
               CAST(COUNT(*) FILTER (a = 1 AND b = 0) AS BIGINT) AS n10,
               CAST(COUNT(*) FILTER (a = 0 AND b = 1) AS BIGINT) AS n01,
               CAST(COUNT(*) FILTER (a = 0 AND b = 0) AS BIGINT) AS n00
        FROM rated
    )
    SELECT n, n11, n10, n01, n00,
           CAST(FLOOR(
               CAST(4 * n * (n11 + n00)
                    - ((2 * n11 + n10 + n01) * (2 * n11 + n10 + n01)
                       + (2 * n00 + n10 + n01) * (2 * n00 + n10 + n01))
                    AS DOUBLE)
               / (4.0 * CAST(n AS DOUBLE) * n
                  - ((2 * n11 + n10 + n01) * CAST(2 * n11 + n10 + n01
                                                  AS DOUBLE)
                     + (2 * n00 + n10 + n01) * CAST(2 * n00 + n10 + n01
                                                    AS DOUBLE)))
               * 1000000) AS BIGINT) AS pi_e6,
           CAST(FLOOR(CAST(2 * (n11 + n00) - n AS DOUBLE) / n * 1000000)
                AS BIGINT) AS pabak_e6
    FROM c
    """,
)
def agg_scott_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCOTT'S π and Byrt's PABAK for the same two document-quality
    raters as agg_cohens_kappa (round 13): π replaces kappa's
    per-rater chance marginals with POOLED marginals — the right
    correction when both raters draw from one shared category
    distribution (and the two-rater base case of Fleiss' kappa,
    closing the agreement suite: kappa → π → Fleiss → Gwet AC1 →
    Krippendorff). PABAK = 2p_o − 1 ignores prevalence entirely; the
    κ/π/PABAK spread IS the prevalence-bias diagnostic.

    Exactness: π's numerator and denominator are EXACT integer
    expressions (4n·agree − Σ pooled-margin², no probability ever
    materializes); both ratios are one floored double each.

    Scale: one filtered-count fold over documents."""
    docs = load(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("a"),
        F.when(
            F.length("text") - F.length(F.regexp_replace("text", " ", ""))
            >= 30,
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    c = rated.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if((F.col("a") == 1) & (F.col("b") == 1))
        .cast("bigint")
        .alias("n11"),
        F.count_if((F.col("a") == 1) & (F.col("b") == 0))
        .cast("bigint")
        .alias("n10"),
        F.count_if((F.col("a") == 0) & (F.col("b") == 1))
        .cast("bigint")
        .alias("n01"),
        F.count_if((F.col("a") == 0) & (F.col("b") == 0))
        .cast("bigint")
        .alias("n00"),
    )
    m1 = 2 * F.col("n11") + F.col("n10") + F.col("n01")
    m0 = 2 * F.col("n00") + F.col("n10") + F.col("n01")
    num = (
        4 * F.col("n") * (F.col("n11") + F.col("n00")) - (m1 * m1 + m0 * m0)
    ).cast("double")
    den = 4.0 * F.col("n").cast("double") * F.col("n") - (
        m1 * m1.cast("double") + m0 * m0.cast("double")
    )
    pabak = (2 * (F.col("n11") + F.col("n00")) - F.col("n")).cast(
        "double"
    ) / F.col("n")
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.floor(num / den * 1000000).cast("bigint").alias("pi_e6"),
        F.floor(pabak * 1000000).cast("bigint").alias("pabak_e6"),
    )


@query(
    "agg_pearson_median_skewness",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS r,
               COUNT(*) OVER () AS n
        FROM spend
    ), s AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s1,
               SUM(CAST(cents AS HUGEINT) * cents) AS s2,
               CAST(MAX(CASE WHEN r = (n + 1) // 2 THEN cents END)
                    AS BIGINT) AS med
        FROM ranked
    )
    SELECT n, med AS median_cents,
           CAST(FLOOR(3.0 * (CAST(s1 AS DOUBLE) / n - med)
                      / sqrt((CAST(s2 AS DOUBLE)
                              - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
                      * 1000000) AS BIGINT) AS pearson2_skew_e6
    FROM s
    """,
)
def agg_pearson_median_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEARSON'S second skewness coefficient (round 13): 3(mean −
    median)/s over per-customer spend — the mean-vs-median gap
    everyone eyeballs, standardized; sits between the moment g₁
    (agg_higher_moments, whale-sensitive) and Bowley
    (agg_quantile_shape, whale-proof) in robustness, completing the
    skewness triangle so the three rows referee each other's sign.

    Exactness: the median is the discrete order statistic at rank
    (n+1) DIV 2 of the tie-pinned ascending rank — a data value; Σx
    and Σx² are exact (HUGEINT for the square); ONE double chain
    floored e6.

    Scale: the gini global-rank posture over the per-customer
    aggregate + one fold."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy(F.col("cents").asc(), F.col("o_custkey").asc())
    w_all = Window.partitionBy()
    ranked = spend.select(
        "cents",
        F.row_number().over(w).alias("r"),
        F.count("*").over(w_all).alias("n"),
    )
    d38 = "decimal(38,0)"
    s = ranked.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).alias("s2"),
        F.max(
            F.when(F.col("r") == F.expr("(n + 1) DIV 2"), F.col("cents"))
        )
        .cast("bigint")
        .alias("med"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sk = (
        3.0
        * (d("s1") / F.col("n") - F.col("med"))
        / F.sqrt((d("s2") - d("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1))
    )
    return s.select(
        "n",
        F.col("med").alias("median_cents"),
        F.floor(sk * 1000000).cast("bigint").alias("pearson2_skew_e6"),
    )


@query(
    "agg_berger_parker",
    """
    WITH counts AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM counts
    ), top AS (
        SELECT event_type, c
        FROM counts ORDER BY c DESC, event_type ASC LIMIT 1
    )
    SELECT t.n, t.k, top.event_type AS dominant_type,
           top.c AS dominant_count,
           CAST(top.c * 1000000 // t.n AS BIGINT) AS berger_parker_e6,
           CAST(t.n * 1000000 // top.c AS BIGINT) AS inv_bp_e6
    FROM tot t, top
    """,
)
def agg_berger_parker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERGER-PARKER dominance (round 13): the largest category's
    share of the event stream (and its inverse, the "effective number
    of dominant types" floor) — the bluntest diversity index, and the
    one that moves FIRST when one event type starts flooding the
    feed; complements agg_simpson_diversity / agg_hill_numbers (which
    this bounds: BP = 1/Hill_∞). Argmax tie-pinned by type name.
    PURE integer arithmetic end-to-end (counts, // = DIV on
    positives).

    Scale: one keyed count + a 1-row top-1 — the cheapest shape."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = counts.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
    )
    top = counts.orderBy(F.col("c").desc(), F.col("event_type").asc()).limit(1)
    return (
        tot.crossJoin(top)
        .select(
            "n",
            "k",
            F.col("event_type").alias("dominant_type"),
            F.col("c").alias("dominant_count"),
            F.expr("CAST(c * 1000000 DIV n AS BIGINT)").alias(
                "berger_parker_e6"
            ),
            F.expr("CAST(n * 1000000 DIV c AS BIGINT)").alias("inv_bp_e6"),
        )
    )


@query(
    "agg_welch_anova",
    """
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS sk,
               SUM(CAST(CAST(FLOOR(value * 10000) AS BIGINT) AS HUGEINT)
                   * CAST(FLOOR(value * 10000) AS BIGINT)) AS qk
        FROM events GROUP BY 1
    ), w AS (
        SELECT event_type, nk, sk,
               CAST(FLOOR(CAST(nk AS DOUBLE) * nk * (nk - 1)
                          * 1000000000000.0
                          / CAST(nk * qk - CAST(sk AS HUGEINT) * sk
                                 AS DOUBLE)) AS BIGINT) AS w_e12
        FROM g
        WHERE nk * qk - CAST(sk AS HUGEINT) * sk > 0
    ), wx AS (
        SELECT event_type, nk, sk, w_e12,
               CAST(FLOOR(CAST(w_e12 AS DOUBLE) * sk / nk) AS BIGINT)
                   AS wx_f
        FROM w
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(w_e12) AS BIGINT) AS sw,
               CAST(SUM(wx_f) AS BIGINT) AS swx
        FROM wx
    ), terms AS (
        SELECT t.k,
               CAST(FLOOR(CAST(x.w_e12 AS DOUBLE) / 1000000.0
                          * (CAST(x.sk AS DOUBLE) / x.nk
                             - CAST(t.swx AS DOUBLE) / t.sw)
                          * (CAST(x.sk AS DOUBLE) / x.nk
                             - CAST(t.swx AS DOUBLE) / t.sw))
                    AS BIGINT) AS a_term,
               CAST(FLOOR((1.0 - CAST(x.w_e12 AS DOUBLE) / t.sw)
                          * (1.0 - CAST(x.w_e12 AS DOUBLE) / t.sw)
                          / (x.nk - 1) * 1000000000000.0) AS BIGINT)
                   AS b_term
        FROM wx x, tot t
    )
    SELECT MAX(k) AS k,
           CAST(FLOOR(
               (CAST(SUM(a_term) AS DOUBLE) / 1000000.0 / (MAX(k) - 1))
               / (1.0 + 2.0 * (MAX(k) - 2.0) / (MAX(k) * MAX(k) - 1.0)
                        * (CAST(SUM(b_term) AS DOUBLE) / 1000000000000.0))
               * 10000) AS BIGINT) AS f_welch_e4,
           CAST(FLOOR((MAX(k) * CAST(MAX(k) AS DOUBLE) - 1.0)
                      / (3.0 * CAST(SUM(b_term) AS DOUBLE)
                         / 1000000000000.0)
                      * 10000) AS BIGINT) AS df2_e4
    FROM terms
    """,
)
def agg_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S heteroscedastic one-way ANOVA over the five event-type
    value distributions (round 13): the K-group generalization of
    agg_t_test_welch — classic ANOVA (the F in agg_anova_oneway's
    family) assumes equal variances, which agg_levene_brown_forsythe
    exists to reject; this is the test you run after Levene fails.
    Emits Welch's F and its Satterthwaite denominator df.

    Exactness: per-group (n, Σv, Σv²) are exact ints (HUGEINT
    squares); the precision-weight w = n²(n−1)/(nQ−S²) FLOORS to e12
    per group and the A/B summands floor per group BEFORE the
    order-free cross-group sums (a raw double Σ over groups is
    partition-order dependent — the Atkinson ln-flooring rule); the
    floored weights ARE the operator's definition, identical both
    engines. Zero-variance groups are excluded (their w is infinite —
    documented boundary). Finals are two shared double chains.

    Scale: one keyed rollup, a broadcast 1-row totals join, one fold —
    partial-aggregatable end-to-end."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    d38 = "decimal(38,0)"
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("nk"),
        F.sum(v).cast("bigint").alias("sk"),
        F.sum(v.cast(d38) * v).alias("qk"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    varnum = (
        F.col("nk") * F.col("qk") - F.col("sk").cast(d38) * F.col("sk")
    )
    w = g.filter(varnum > 0).select(
        "event_type",
        "nk",
        "sk",
        F.floor(
            d("nk") * F.col("nk") * (F.col("nk") - 1)
            * F.lit(1000000000000.0)
            / varnum.cast("double")
        )
        .cast("bigint")
        .alias("w_e12"),
    )
    wx = w.select(
        "event_type",
        "nk",
        "sk",
        "w_e12",
        F.floor(d("w_e12") * F.col("sk") / F.col("nk"))
        .cast("bigint")
        .alias("wx_f"),
    )
    tot = wx.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("w_e12").cast("bigint").alias("sw"),
        F.sum("wx_f").cast("bigint").alias("swx"),
    )
    joined = wx.crossJoin(F.broadcast(tot))
    dx = d("sk") / F.col("nk") - d("swx") / F.col("sw")
    terms = joined.select(
        "k",
        F.floor(d("w_e12") / 1000000.0 * dx * dx)
        .cast("bigint")
        .alias("a_term"),
        F.floor(
            (1.0 - d("w_e12") / F.col("sw"))
            * (1.0 - d("w_e12") / F.col("sw"))
            / (F.col("nk") - 1)
            * 1000000000000.0
        )
        .cast("bigint")
        .alias("b_term"),
    )
    s = terms.agg(
        F.max("k").alias("k"),
        F.sum("a_term").alias("sa"),
        F.sum("b_term").alias("sb"),
    )
    k = F.col("k")
    lam = F.col("sb").cast("double") / 1000000000000.0
    f_w = (F.col("sa").cast("double") / 1000000.0 / (k - 1)) / (
        1.0 + 2.0 * (k - 2.0) / (k * k.cast("double") - 1.0) * lam
    )
    # df2 denominator spelled (3·Σb)/1e12 — NOT 3·(Σb/1e12) — to share
    # the oracle's left-associated double chain exactly (ADVICE r13:
    # 1e12 is not a power of two, so the two roundings can differ by
    # ~1 ulp and flip the e4 floor).
    df2 = (k * k.cast("double") - 1.0) / (
        (3.0 * F.col("sb").cast("double")) / 1000000000000.0
    )
    return s.select(
        k.cast("bigint").alias("k"),
        F.floor(f_w * 10000).cast("bigint").alias("f_welch_e4"),
        F.floor(df2 * 10000).cast("bigint").alias("df2_e4"),
    )


@query(
    "agg_effect_size_contingency",
    """
    WITH obs AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT event_type, dow, o,
               CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rm,
               CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS cm,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM obs
    ), cells AS (
        SELECT o, rm, cm, n, event_type, dow,
               CAST(FLOOR(
                   (CAST(o AS DOUBLE) * n - CAST(rm AS DOUBLE) * cm)
                   * (CAST(o AS DOUBLE) * n - CAST(rm AS DOUBLE) * cm)
                   / (CAST(rm AS DOUBLE) * cm * n) * 100000000)
                   AS BIGINT) AS chi_term_e8
        FROM m
    ), s AS (
        SELECT MAX(n) AS n,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT dow) AS BIGINT) AS c,
               CAST(SUM(chi_term_e8) AS BIGINT) AS chi2_e8
        FROM cells
    )
    SELECT n, r, c,
           CAST(FLOOR(sqrt(CAST(chi2_e8 AS DOUBLE) / 100000000.0 / n)
                      * 1000000) AS BIGINT) AS cohen_w_e6,
           CAST(FLOOR(sqrt(CAST(chi2_e8 AS DOUBLE) / 100000000.0 / n
                           / (LEAST(r, c) - 1.0)) * 1000000) AS BIGINT)
               AS cramers_v_e6,
           CAST(FLOOR(sqrt(
               GREATEST(CAST(chi2_e8 AS DOUBLE) / 100000000.0 / n
                        - (r - 1.0) * (c - 1.0) / (n - 1.0), 0.0)
               / LEAST(r - (r - 1.0) * (r - 1.0) / (n - 1.0),
                       c - (c - 1.0) * (c - 1.0) / (n - 1.0))
               ) * 1000000) AS BIGINT) AS cramers_v_corrected_e6
    FROM s
    """,
)
def agg_effect_size_contingency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contingency effect sizes for the same (event_type × weekday)
    table as agg_chi_square (round 13): Cohen's w = √(χ²/n) (the
    power-analysis input), Cramér's V = w/√(min(r,c)−1), and the
    BERGSMA bias-corrected V' (φ² debited by its (r−1)(c−1)/(n−1)
    null expectation, dimensions shrunk likewise) — raw V is inflated
    at small n / large tables, and V' is what honest reporting uses;
    the χ² row says "significant", these rows say "how big". V here
    referees agg_cramers_v on a different table shape.

    Exactness: per-cell χ² terms floor e8 before the order-free sum
    (the agg_chi_square convention, same margins CTE); the three
    effect sizes are one shared double chain each (GREATEST-gated at
    the φ² correction floor).

    Scale: one keyed cell rollup + margin windows over the bounded
    (types × weekdays) grid."""
    ev = load(spark, sf_dir, "events")
    # (dayofweek − 1) matches DuckDB's 0–6 convention — repo-standard
    # shift (ADVICE r13): dow is only a grouping key today, but an
    # unshifted key becomes a live trap the moment it is emitted or
    # joined, and every other dow site applies the shift.
    obs = ev.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    ).agg(F.count("*").cast("bigint").alias("o"))
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("dow")
    w_all = Window.partitionBy()
    m = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(w_r).cast("bigint").alias("rm"),
        F.sum("o").over(w_c).cast("bigint").alias("cm"),
        F.sum("o").over(w_all).cast("bigint").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dev = d("o") * F.col("n") - d("rm") * F.col("cm")
    cells = m.select(
        "event_type",
        "dow",
        "n",
        F.floor(dev * dev / (d("rm") * F.col("cm") * F.col("n")) * 100000000)
        .cast("bigint")
        .alias("chi_term_e8"),
    )
    s = cells.agg(
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("r"),
        F.countDistinct("dow").cast("bigint").alias("c"),
        F.sum("chi_term_e8").cast("bigint").alias("chi2_e8"),
    )
    phi2 = F.col("chi2_e8").cast("double") / 100000000.0 / F.col("n")
    r, c, n = F.col("r"), F.col("c"), F.col("n")
    phi2c = F.greatest(
        phi2 - (r - 1.0) * (c - 1.0) / (n - 1.0), F.lit(0.0)
    )
    rshrunk = r - (r - 1.0) * (r - 1.0) / (n - 1.0)
    cshrunk = c - (c - 1.0) * (c - 1.0) / (n - 1.0)
    return s.select(
        "n",
        "r",
        "c",
        F.floor(F.sqrt(phi2) * 1000000).cast("bigint").alias("cohen_w_e6"),
        F.floor(F.sqrt(phi2 / (F.least(r, c) - 1.0)) * 1000000)
        .cast("bigint")
        .alias("cramers_v_e6"),
        F.floor(F.sqrt(phi2c / F.least(rshrunk, cshrunk)) * 1000000)
        .cast("bigint")
        .alias("cramers_v_corrected_e6"),
    )


# Shared (event_type × weekday) p-value family — the agg_benjamini_
# hochberg construction factored for the round-13 multiple-testing
# siblings (Holm step-down, Benjamini-Yekutieli): z floors e4 first,
# p = two-sided normal via the Abramowitz-Stegun 7.1.26 polynomial
# with literal coefficients, floored e6 (identical text in the BH
# oracle — the comparison inputs stay exact integers).
_DOW_P_CTES = """base AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4
        FROM events
    ), cell AS (
        SELECT event_type, dow,
               CAST(COUNT(*) AS BIGINT) AS n_cell,
               CAST(SUM(v_e4) AS BIGINT) AS s_cell
        FROM base GROUP BY event_type, dow
    ), typ AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_t,
               CAST(SUM(v_e4) AS BIGINT) AS s_t,
               CAST(SUM(v_e4 * v_e4) AS BIGINT) AS ss_t
        FROM base GROUP BY event_type
    ), z AS (
        SELECT c.event_type, CAST(c.dow AS BIGINT) AS dow, c.n_cell,
               CAST(FLOOR(
                   (CAST(c.s_cell AS DOUBLE) / c.n_cell
                    - CAST(t.s_t AS DOUBLE) / t.n_t)
                   / sqrt(((CAST(t.ss_t AS DOUBLE)
                            - CAST(t.s_t AS DOUBLE)
                              * CAST(t.s_t AS DOUBLE) / t.n_t)
                           / (t.n_t - 1.0)) / c.n_cell)
                   * 10000) AS BIGINT) AS z_e4
        FROM cell c JOIN typ t USING (event_type)
    ), p AS (
        SELECT event_type, dow, n_cell, z_e4,
               CAST(FLOOR(
                   (1.0 / (1.0 + 0.3275911
                           * (CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                              / 1.4142135623730951)))
                   * (0.254829592
                      + (1.0 / (1.0 + 0.3275911
                                * (CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                                   / 1.4142135623730951)))
                        * (-0.284496736
                           + (1.0 / (1.0 + 0.3275911
                                     * (CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                                        / 1.4142135623730951)))
                             * (1.421413741
                                + (1.0 / (1.0 + 0.3275911
                                          * (CAST(ABS(z_e4) AS DOUBLE)
                                             / 10000.0
                                             / 1.4142135623730951)))
                                  * (-1.453152027
                                     + (1.0 / (1.0 + 0.3275911
                                               * (CAST(ABS(z_e4) AS DOUBLE)
                                                  / 10000.0
                                                  / 1.4142135623730951)))
                                       * 1.061405429))))
                   * exp(-(CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                           / 1.4142135623730951)
                         * (CAST(ABS(z_e4) AS DOUBLE) / 10000.0
                            / 1.4142135623730951))
                   * 1000000) AS BIGINT) AS p_e6
        FROM z
    )"""


def _dow_family_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, dow, n_cell, z_e4, p_e6) — the 35-test weekday
    shift family, identical to agg_benjamini_hochberg's construction
    (same floors, same A-S polynomial literals)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.floor(F.col("value") * 10000).cast("bigint").alias("v_e4"),
    )
    cell = base.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("n_cell"),
        F.sum("v_e4").cast("bigint").alias("s_cell"),
    )
    typ = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_t"),
        F.sum("v_e4").cast("bigint").alias("s_t"),
        F.sum(F.col("v_e4") * F.col("v_e4")).cast("bigint").alias("ss_t"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var_t = (d("ss_t") - d("s_t") * d("s_t") / d("n_t")) / (d("n_t") - 1.0)
    z = cell.join(F.broadcast(typ), "event_type").select(
        "event_type",
        "dow",
        "n_cell",
        F.floor(
            (d("s_cell") / F.col("n_cell") - d("s_t") / F.col("n_t"))
            / F.sqrt(var_t / F.col("n_cell"))
            * 10000
        )
        .cast("bigint")
        .alias("z_e4"),
    )
    x = F.abs(F.col("z_e4")).cast("double") / 10000.0 / F.lit(
        1.4142135623730951
    )
    t = 1.0 / (1.0 + F.lit(0.3275911) * x)
    horner = t * (
        0.254829592
        + t
        * (
            -0.284496736
            + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))
        )
    )
    return z.withColumn(
        "p_e6",
        F.floor(horner * F.exp(-x * x) * 1000000).cast("bigint"),
    )


@query(
    "agg_holm_bonferroni",
    f"""
    WITH {_DOW_P_CTES}, ranked AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY p_e6, event_type, dow)
                    AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM p
    ), crit AS (
        SELECT *,
               CAST(FLOOR(0.05 / (m - rnk + 1) * 1000000) AS BIGINT)
                   AS thr_e6,
               MIN(CASE WHEN p_e6 <= CAST(FLOOR(0.05 / (m - rnk + 1)
                                                * 1000000) AS BIGINT)
                        THEN 1 ELSE 0 END)
                   OVER (ORDER BY rnk
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS all_pass
        FROM ranked
    )
    SELECT event_type, dow, n_cell, z_e4, p_e6, rnk, thr_e6,
           CAST(all_pass AS BIGINT) AS rejected
    FROM crit ORDER BY rnk
    """,
)
def agg_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLM step-down correction over the same 35-test weekday-shift
    family as agg_benjamini_hochberg (round 13): thresholds
    α/(m−i+1) tighten as i grows, and rejection stops at the FIRST
    failure (running-AND down the sorted p's) — uniformly more
    powerful than Bonferroni while still controlling FWER (the
    stricter guarantee; BH controls only FDR). The FWER/FDR pair on
    identical p-values is the textbook comparison, and the two rows
    referee each other (Holm's rejection set ⊆ BH's).

    Exactness: identical floored z/p construction (same A-S
    polynomial literals); both comparison sides are exact integers;
    the step-down is an integer running MIN over the pre-reduced
    35-row family.

    Scale: the BH posture — two keyed partial aggregates, then
    rank/cume over 35 rows (window-warn budgeted)."""
    p = _dow_family_pvalues(spark, sf_dir)
    w_rank = Window.orderBy("p_e6", "event_type", "dow")
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        p.withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .withColumn("m", F.count("*").over(w_all).cast("bigint"))
        .withColumn(
            "thr_e6",
            F.floor(
                F.lit(0.05) / (F.col("m") - F.col("rnk") + 1) * 1000000
            ).cast("bigint"),
        )
    )
    w_run = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
    crit = ranked.withColumn(
        "all_pass",
        F.min(
            F.when(F.col("p_e6") <= F.col("thr_e6"), 1).otherwise(0)
        ).over(w_run),
    )
    return crit.select(
        "event_type",
        "dow",
        "n_cell",
        "z_e4",
        "p_e6",
        "rnk",
        "thr_e6",
        F.col("all_pass").cast("bigint").alias("rejected"),
    ).orderBy("rnk")


@query(
    "agg_benjamini_yekutieli",
    f"""
    WITH {_DOW_P_CTES}, ranked AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY p_e6, event_type, dow)
                    AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM p
    ), cm AS (
        SELECT MAX(m) AS m,
               list_reduce(list_transform(range(1, MAX(m) + 1),
                   j -> 1.0 / j), (a, b) -> a + b) AS c_m
        FROM ranked
    ), crit AS (
        SELECT r.*,
               CAST(FLOOR(0.05 * r.rnk / (r.m * c.c_m) * 1000000)
                    AS BIGINT) AS thr_e6
        FROM ranked r, cm c
    ), kmax AS (
        SELECT COALESCE(MAX(CASE WHEN p_e6 <= thr_e6 THEN rnk END),
                        CAST(0 AS BIGINT)) AS k
        FROM crit
    )
    SELECT c.event_type, c.dow, c.n_cell, c.z_e4, c.p_e6, c.rnk,
           c.thr_e6,
           CAST(CASE WHEN c.rnk <= k.k THEN 1 ELSE 0 END AS BIGINT)
               AS rejected
    FROM crit c CROSS JOIN kmax k
    ORDER BY c.rnk
    """,
)
def agg_benjamini_yekutieli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-YEKUTIELI FDR step-up (round 13): BH's thresholds
    divided by the harmonic sum c(m) = Σ1/j — the FDR correction that
    stays valid under ARBITRARY dependence between the tests (BH
    assumes independence/PRDS; these 35 weekday cells share their
    per-type margins, exactly the dependence BY insures against).
    Completes the multiple-testing ladder: Bonferroni → Holm → BY →
    BH, all on identical p-values.

    Exactness: same floored z/p family; c(m) is an ORDERED left fold
    over j = 1..m (F.aggregate ≡ list_reduce, the ts_macd rule) so
    both engines hold the identical double; thresholds floor e6 and
    the step-up compares exact integers.

    Scale: the BH posture — pre-reduced 35-row family."""
    p = _dow_family_pvalues(spark, sf_dir)
    w_rank = Window.orderBy("p_e6", "event_type", "dow")
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        p.withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .withColumn("m", F.count("*").over(w_all).cast("bigint"))
    )
    c_m = F.aggregate(
        F.sequence(F.lit(1), F.col("m")),
        F.lit(0.0),
        lambda a, j: a + 1.0 / j,
    )
    crit = ranked.withColumn(
        "thr_e6",
        F.floor(
            F.lit(0.05) * F.col("rnk") / (F.col("m") * c_m) * 1000000
        ).cast("bigint"),
    )
    kmax = F.coalesce(
        F.max(
            F.when(F.col("p_e6") <= F.col("thr_e6"), F.col("rnk"))
        ).over(w_all),
        F.lit(0).cast("bigint"),
    )
    return crit.select(
        "event_type",
        "dow",
        "n_cell",
        "z_e4",
        "p_e6",
        "rnk",
        "thr_e6",
        F.when(F.col("rnk") <= kmax, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejected"),
    ).orderBy("rnk")


@query(
    "agg_james_stein_means",
    """
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS sk,
               SUM(CAST(CAST(FLOOR(value * 10000) AS BIGINT) AS HUGEINT)
                   * CAST(FLOOR(value * 10000) AS BIGINT)) AS qk
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(nk) AS BIGINT) AS n,
               CAST(SUM(sk) AS BIGINT) AS s,
               CAST(SUM(CAST(qk AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
                   AS q
        FROM g
    ), dev AS (
        SELECT g.event_type, g.nk, g.sk, t.k, t.n, t.s, t.q,
               CAST(g.sk AS DOUBLE) / g.nk - CAST(t.s AS DOUBLE) / t.n
                   AS dx
        FROM g, tot t
    ), ssd AS (
        SELECT MAX(k) AS k, MAX(n) AS n, MAX(s) AS s, MAX(q) AS q,
               SUM(CAST(FLOOR(dx * dx * 10000) AS BIGINT)) AS ssd_e4
        FROM dev
    )
    SELECT d.event_type, d.nk,
           CAST(FLOOR(CAST(d.sk AS DOUBLE) / d.nk * 10000) AS BIGINT)
               AS raw_mean_e4x4,
           CAST(FLOOR((CAST(s2.s AS DOUBLE) / s2.n
                       + GREATEST(1.0 - (s2.k - 3.0)
                           * ((CAST(s2.q AS DOUBLE)
                               - CAST(s2.s AS DOUBLE) * s2.s / s2.n)
                              / (s2.n - 1.0) / s2.n)
                           / (CAST(s2.ssd_e4 AS DOUBLE) / 10000.0), 0.0)
                         * d.dx)
                      * 10000) AS BIGINT) AS js_mean_e4x4
    FROM dev d, ssd s2
    ORDER BY d.event_type
    """,
)
def agg_james_stein_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JAMES-STEIN shrinkage of the five event-type means toward the
    grand mean (round 13): each group mean moves by the positive-part
    factor (1 − (K−3)·σ̂²/n̄ / Σ(x̄ₖ−x̄)²)₊ — the estimator that
    DOMINATES raw group means in total squared error for K ≥ 4, and
    the fixed-effect mean-side companion to agg_shrunk_rates_eb's
    Beta-Binomial rate shrinkage (dashboards with many small segments
    want exactly this before ranking segments by mean).

    Exactness: per-group and grand sums are exact (HUGEINT squares);
    each group's squared deviation floors e4 BEFORE the order-free
    Σ(x̄ₖ−x̄)² sum (the Welch-ANOVA flooring rule — the floored
    deviations ARE the definition); the shrinkage chain is one shared
    double expression per group. Variance uses the pooled grand σ̂²/n̄
    simplification, documented.

    Scale: one keyed rollup + broadcast 1-row totals — the cheapest
    two-pass shape."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    d38 = "decimal(38,0)"
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("nk"),
        F.sum(v).cast("bigint").alias("sk"),
        F.sum(v.cast(d38) * v).alias("qk"),
    )
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("nk").cast("bigint").alias("n"),
        F.sum("sk").cast("bigint").alias("s"),
        F.sum(F.col("qk").cast(d38)).cast(d38).alias("q"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dev = g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "nk",
        "sk",
        "k",
        "n",
        "s",
        "q",
        (d("sk") / F.col("nk") - d("s") / F.col("n")).alias("dx"),
    )
    ssd = dev.agg(
        F.max("k").alias("k"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max("q").alias("q"),
        F.sum(
            F.floor(F.col("dx") * F.col("dx") * 10000).cast("bigint")
        ).alias("ssd_e4"),
    )
    j = dev.crossJoin(
        F.broadcast(
            ssd.select(
                F.col("k").alias("k2"),
                F.col("n").alias("n2"),
                F.col("s").alias("s2"),
                F.col("q").alias("q2"),
                "ssd_e4",
            )
        )
    )
    sigma2_over_nbar = (
        (d("q2") - d("s2") * F.col("s2") / F.col("n2"))
        / (F.col("n2") - 1.0)
        / F.col("n2")
    )
    shrink = F.greatest(
        1.0
        - (F.col("k2") - 3.0)
        * sigma2_over_nbar
        / (F.col("ssd_e4").cast("double") / 10000.0),
        F.lit(0.0),
    )
    return j.select(
        "event_type",
        "nk",
        F.floor(d("sk") / F.col("nk") * 10000)
        .cast("bigint")
        .alias("raw_mean_e4x4"),
        F.floor(
            (d("s2") / F.col("n2") + shrink * F.col("dx")) * 10000
        )
        .cast("bigint")
        .alias("js_mean_e4x4"),
    ).orderBy("event_type")


@query(
    "agg_gini_mean_difference",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i,
               COUNT(*) OVER () AS n
        FROM spend
    ), s AS (
        SELECT MAX(n) AS n,
               CAST(SUM(cents) AS BIGINT) AS total,
               CAST(SUM(CAST(2 * i - n - 1 AS HUGEINT) * cents)
                    AS DECIMAL(38, 0)) AS wsum
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(FLOOR(2.0 * CAST(wsum AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1.0))) AS BIGINT)
               AS gmd_cents,
           CAST(FLOOR(2.0 * CAST(wsum AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1.0))
                      / (CAST(total AS DOUBLE) / n) * 1000000)
                AS BIGINT) AS relative_gmd_e6
    FROM s
    """,
)
def agg_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI MEAN DIFFERENCE (round 13): E|X−X'| over per-customer
    spend via the rank identity Σ|xᵢ−xⱼ| = 2·Σ(2i−n−1)x₍ᵢ₎ — the
    robust SCALE estimator (62% Gaussian efficiency at σ√(4/π), far
    sturdier than s under heavy tails) that the inequality rows build
    on: relative GMD = 2·Gini·n/(n−1) exactly (U-statistic vs
    n² denominators), so this row referees agg_gini_concentration
    through the identity.

    Exactness: the rank weighting is the gini discipline verbatim —
    tie-pinned ascending rank, (2i−n−1)·cents in HUGEINT/decimal,
    doubles only in the two final expressions.

    Scale: the gini posture — global rank over the per-customer
    aggregate."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy(F.col("cents").asc(), F.col("o_custkey").asc())
    w_all = Window.partitionBy()
    ranked = spend.select(
        "cents",
        F.row_number().over(w).alias("i"),
        F.count("*").over(w_all).alias("n"),
    )
    d38 = "decimal(38,0)"
    s = ranked.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
        F.sum(
            (2 * F.col("i") - F.col("n") - 1).cast(d38) * F.col("cents")
        )
        .cast(d38)
        .alias("wsum"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    gmd = 2.0 * d("wsum") / (d("n") * (F.col("n") - 1.0))
    return s.select(
        "n",
        F.floor(gmd).cast("bigint").alias("gmd_cents"),
        F.floor(gmd / (d("total") / F.col("n")) * 1000000)
        .cast("bigint")
        .alias("relative_gmd_e6"),
    )


@query(
    "agg_bland_altman",
    """
    WITH diffs AS (
        SELECT CAST(n_chars - length(text) AS BIGINT) AS diff
        FROM documents
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(diff) AS BIGINT) AS s1,
               SUM(CAST(diff AS HUGEINT) * diff) AS s2,
               CAST(COUNT(*) FILTER (diff = 0) AS BIGINT) AS n_equal
        FROM diffs
    )
    SELECT n, n_equal,
           CAST(FLOOR(CAST(s1 AS DOUBLE) / n * 10000) AS BIGINT)
               AS bias_e4,
           CAST(FLOOR(sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * s1 / n)
                           / (n - 1.0)) * 10000) AS BIGINT) AS sd_e4,
           CAST(FLOOR((CAST(s1 AS DOUBLE) / n
                       - 1.96 * sqrt((CAST(s2 AS DOUBLE)
                                      - CAST(s1 AS DOUBLE) * s1 / n)
                                     / (n - 1.0))) * 10000) AS BIGINT)
               AS loa_lower_e4,
           CAST(FLOOR((CAST(s1 AS DOUBLE) / n
                       + 1.96 * sqrt((CAST(s2 AS DOUBLE)
                                      - CAST(s1 AS DOUBLE) * s1 / n)
                                     / (n - 1.0))) * 10000) AS BIGINT)
               AS loa_upper_e4
    FROM s
    """,
)
def agg_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAND-ALTMAN agreement between two measurements of the same
    quantity (round 13): the recorded n_chars column vs the freshly
    computed text length — bias (mean difference), SD of differences,
    and the 95% limits of agreement (bias ± 1.96·SD). The method
    comparison statistic that correlation famously fakes (two
    measures can correlate 0.99 and still disagree by a constant);
    here it doubles as a METADATA-INTEGRITY audit: n_equal = n and
    zero-width limits certify the stored count is the text's truth
    (the dq_expectation_checks family, with a statistical readout).

    Exactness: differences are exact integers; Σd² in HUGEINT; the
    bias/SD/LoA chains are one shared double expression each with the
    1.96 literal.

    Scale: one narrow projection + one fold."""
    docs = load(spark, sf_dir, "documents")
    diffs = docs.select(
        (F.col("n_chars") - F.length("text")).cast("bigint").alias("diff")
    )
    d38 = "decimal(38,0)"
    s = diffs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("diff").cast("bigint").alias("s1"),
        F.sum(F.col("diff").cast(d38) * F.col("diff")).alias("s2"),
        F.count_if(F.col("diff") == 0).cast("bigint").alias("n_equal"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    bias = d("s1") / F.col("n")
    sd = F.sqrt((d("s2") - d("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1.0))
    return s.select(
        "n",
        "n_equal",
        F.floor(bias * 10000).cast("bigint").alias("bias_e4"),
        F.floor(sd * 10000).cast("bigint").alias("sd_e4"),
        F.floor((bias - 1.96 * sd) * 10000)
        .cast("bigint")
        .alias("loa_lower_e4"),
        F.floor((bias + 1.96 * sd) * 10000)
        .cast("bigint")
        .alias("loa_upper_e4"),
    )


@query(
    "agg_skellam_fit_moments",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                   AS n_p,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)
                   AS n_e
        FROM events GROUP BY 1
    ), diffs AS (
        SELECT n_p - n_e AS k FROM daily
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS s1,
               SUM(CAST(k AS HUGEINT) * k) AS s2
        FROM diffs
    )
    SELECT n,
           CAST(FLOOR(CAST(s1 AS DOUBLE) / n * 10000) AS BIGINT)
               AS mean_e4,
           CAST(FLOOR((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                      / (n - 1.0) * 10000) AS BIGINT) AS var_e4,
           CAST(FLOOR(((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                       / (n - 1.0) + CAST(s1 AS DOUBLE) / n) / 2.0
                      * 10000) AS BIGINT) AS mu1_e4,
           CAST(FLOOR(((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                       / (n - 1.0) - CAST(s1 AS DOUBLE) / n) / 2.0
                      * 10000) AS BIGINT) AS mu2_e4
    FROM s
    """,
)
def agg_skellam_fit_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKELLAM moment fit to the daily (purchases − errors) count
    difference (round 13): if both counts are Poisson, their
    difference is Skellam(μ₁, μ₂) with mean μ₁−μ₂ and variance μ₁+μ₂
    — so the moment inversion μ₁ = (s²+m)/2, μ₂ = (s²−m)/2 fits both
    intensities from the DIFFERENCE alone (the model for "net
    conversions per day" when only the net is observable). A negative
    μ₂ estimate is itself the diagnostic: the counts are NOT
    independent Poissons (agg_poisson_dispersion's cross-series
    sibling).

    Exactness: daily counts and differences are exact ints (HUGEINT
    squares); the four moment expressions are one shared double chain
    each, floored e4.

    Scale: one day rollup + one fold."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("n_p"),
        F.count_if(F.col("event_type") == "error")
        .cast("bigint")
        .alias("n_e"),
    )
    diffs = daily.select((F.col("n_p") - F.col("n_e")).alias("k"))
    d38 = "decimal(38,0)"
    s = diffs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s1"),
        F.sum(F.col("k").cast(d38) * F.col("k")).alias("s2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("s1") / F.col("n")
    var = (d("s2") - d("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1.0)
    return s.select(
        "n",
        F.floor(mean * 10000).cast("bigint").alias("mean_e4"),
        F.floor(var * 10000).cast("bigint").alias("var_e4"),
        F.floor((var + mean) / 2.0 * 10000).cast("bigint").alias("mu1_e4"),
        F.floor((var - mean) / 2.0 * 10000).cast("bigint").alias("mu2_e4"),
    )


@query(
    "agg_fisher_method",
    f"""
    WITH {_DOW_P_CTES}, terms AS (
        SELECT CAST(FLOOR(-2.0 * ln(GREATEST(CAST(p_e6 AS DOUBLE)
                                             / 1000000.0, 0.0000005))
                          * 1000000000) AS BIGINT) AS term_e9
        FROM p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(term_e9) AS BIGINT) AS fisher_chi2_e9,
           CAST(2 * COUNT(*) AS BIGINT) AS df
    FROM terms
    """,
)
def agg_fisher_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FISHER'S method over the shared 35-test weekday-shift p-value
    family (round 13): −2Σln pᵢ ~ χ²(2m) under the global null — the
    classic meta-combination asking "is ANYTHING here non-null?"
    before the per-test corrections (Holm/BH/BY) ask WHICH. p-values
    floor at 5e-7 (half the e6 grid — ln 0 is the documented pole of
    combining floored p's).

    Exactness: the family's p_e6 are already exact integers (the BH
    construction); each −2·ln p term floors e9 BEFORE the order-free
    sum (Atkinson rule); df is 2m exactly.

    Scale: the BH posture + one fold."""
    p = _dow_family_pvalues(spark, sf_dir)
    terms = p.select(
        F.floor(
            -2.0
            * F.log(
                F.greatest(
                    F.col("p_e6").cast("double") / 1000000.0,
                    F.lit(0.0000005),
                )
            )
            * 1000000000
        )
        .cast("bigint")
        .alias("term_e9")
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("term_e9").cast("bigint").alias("fisher_chi2_e9"),
        (2 * F.count("*")).cast("bigint").alias("df"),
    )


@query(
    "agg_stouffer_method",
    f"""
    WITH {_DOW_P_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(z_e4) AS BIGINT) AS sum_z_e4,
           CAST(FLOOR(CAST(SUM(z_e4) AS DOUBLE) / 10000.0
                      / sqrt(CAST(COUNT(*) AS DOUBLE)) * 10000)
                AS BIGINT) AS stouffer_z_e4,
           CAST(FLOOR(CAST(SUM(ABS(z_e4)) AS DOUBLE) / 10000.0
                      / sqrt(CAST(COUNT(*) AS DOUBLE)) * 10000)
                AS BIGINT) AS stouffer_abs_z_e4
    FROM p
    """,
)
def agg_stouffer_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STOUFFER'S combined z over the same family (round 13): Σzᵢ/√m
    ~ N(0,1) under the global null — the DIRECTIONAL combination
    Fisher's method discards (35 small same-sign shifts combine to a
    large Stouffer z but a modest Fisher χ²; the pair separates "one
    big effect" from "many aligned small ones"). The |z| variant is
    emitted as the magnitude-only companion.

    Exactness: the family's z_e4 are already exact integers, Σz is an
    exact bigint, and the two normalizations are one floored double
    chain each.

    Scale: the BH posture + one fold — the cheapest row on the
    family."""
    p = _dow_family_pvalues(spark, sf_dir)
    return p.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("z_e4").cast("bigint").alias("sum_z_e4"),
        F.floor(
            F.sum("z_e4").cast("double")
            / 10000.0
            / F.sqrt(F.count("*").cast("double"))
            * 10000
        )
        .cast("bigint")
        .alias("stouffer_z_e4"),
        F.floor(
            F.sum(F.abs(F.col("z_e4"))).cast("double")
            / 10000.0
            / F.sqrt(F.count("*").cast("double"))
            * 10000
        )
        .cast("bigint")
        .alias("stouffer_abs_z_e4"),
    )


@query(
    "agg_powerlaw_fit_ks",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey ASC)
                   AS r_desc,
               COUNT(*) OVER () AS n
        FROM spend
    ), tail AS (
        SELECT cents, r_desc, n, n // 10 AS k,
               MIN(cents) OVER () AS dummy
        FROM ranked WHERE r_desc <= n // 10
    ), xm AS (
        SELECT MIN(cents) AS xmin, MAX(k) AS k FROM tail
    ), terms AS (
        SELECT t.cents, t.r_desc, x.xmin, x.k,
               CAST(FLOOR(ln(CAST(t.cents AS DOUBLE) / x.xmin)
                          * 1000000000) AS BIGINT) AS lnr_e9
        FROM tail t, xm x
    ), alpha AS (
        SELECT MAX(xmin) AS xmin, MAX(k) AS k,
               CAST(SUM(lnr_e9) AS BIGINT) AS slnr_e9,
               CAST(MAX(k) AS DOUBLE) * 1000000000
                   / SUM(lnr_e9) AS a_hat
        FROM terms
    ), ks AS (
        SELECT MAX(ABS(
                   CAST(a.k - t.r_desc + 1 AS DOUBLE) / a.k
                   - (1.0 - exp(-a.a_hat
                                * (CAST(t.lnr_e9 AS DOUBLE)
                                   / 1000000000.0)))
               )) AS d
        FROM terms t, alpha a
    )
    SELECT a.k, a.xmin AS xmin_cents,
           CAST(FLOOR(a.a_hat * 1000000) AS BIGINT) AS alpha_e6,
           CAST(FLOOR(ks.d * 1000000) AS BIGINT) AS ks_e6
    FROM alpha a, ks
    """,
)
def agg_powerlaw_fit_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law tail fit + KS distance (round 13, the Clauset-
    Shalizi-Newman recipe at a fixed tail): Hill's MLE α̂ =
    k/Σln(xᵢ/xmin) over the top-decile spend tail, then the KS
    distance between the empirical tail CDF and the fitted Pareto —
    agg_hill_tail_index estimates the exponent; THIS row asks whether
    the power law actually FITS (a big KS = the tail is lognormal or
    truncated, and every "whale" extrapolation from α̂ is fiction).

    Exactness: the tail membership is rank-exact (descending
    tie-pinned rank, k = n DIV 10); each ln(x/xmin) floors e9 before
    the order-free sum, and the SAME floored value feeds the fitted
    CDF exp(−α̂·lnr) — so both engines evaluate identical rationals
    through one shared exp chain (the Atkinson exp-parity precedent);
    the KS max runs over exact doubles and floors e6 once.

    Scale: the gini global-rank posture + a broadcast 2-scalar
    anchor; two passes over the k-row tail."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey").asc())
    w_all = Window.partitionBy()
    ranked = spend.select(
        "cents",
        F.row_number().over(w).alias("r_desc"),
        F.count("*").over(w_all).alias("n"),
    )
    tail = ranked.filter(F.col("r_desc") <= F.expr("n DIV 10"))
    xm = tail.agg(
        F.min("cents").alias("xmin"),
        F.max(F.expr("n DIV 10")).cast("bigint").alias("k"),
    )
    terms = tail.crossJoin(F.broadcast(xm)).select(
        "cents",
        "r_desc",
        "xmin",
        "k",
        F.floor(
            F.log(F.col("cents").cast("double") / F.col("xmin"))
            * 1000000000
        )
        .cast("bigint")
        .alias("lnr_e9"),
    )
    alpha = terms.agg(
        F.max("xmin").alias("xmin"),
        F.max("k").alias("k"),
        F.sum("lnr_e9").cast("bigint").alias("slnr_e9"),
        (
            F.max("k").cast("double") * 1000000000 / F.sum("lnr_e9")
        ).alias("a_hat"),
    )
    ks = (
        terms.crossJoin(
            F.broadcast(
                alpha.select(
                    F.col("k").alias("k2"), F.col("a_hat").alias("ah")
                )
            )
        )
        .agg(
            F.max(
                F.abs(
                    (F.col("k2") - F.col("r_desc") + 1).cast("double")
                    / F.col("k2")
                    - (
                        1.0
                        - F.exp(
                            -F.col("ah")
                            * (F.col("lnr_e9").cast("double") / 1000000000.0)
                        )
                    )
                )
            ).alias("d")
        )
    )
    return (
        alpha.crossJoin(ks)
        .select(
            "k",
            F.col("xmin").alias("xmin_cents"),
            F.floor(F.col("a_hat") * 1000000).cast("bigint").alias("alpha_e6"),
            F.floor(F.col("d") * 1000000).cast("bigint").alias("ks_e6"),
        )
    )


@query(
    "agg_benford_mad_conformity",
    """
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT digit, o, CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM digits
    ), devs AS (
        SELECT digit,
               CAST(FLOOR(ABS(CAST(o AS DOUBLE) / n
                              - ln(1.0 + 1.0 / digit) / ln(10.0))
                          * 1000000000) AS BIGINT) AS absdev_e9
        FROM tot
    ), mad AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_digits,
               CAST(SUM(absdev_e9) // COUNT(*) AS BIGINT) AS mad_e9
        FROM devs
    )
    SELECT n_digits, mad_e9,
           CASE WHEN mad_e9 < 600000 THEN 'close'
                WHEN mad_e9 < 1200000 THEN 'acceptable'
                WHEN mad_e9 < 1500000 THEN 'marginal'
                ELSE 'nonconforming' END AS nigrini_grade
    FROM mad
    """,
)
def agg_benford_mad_conformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NIGRINI MAD conformity grade for the Benford first-digit audit
    (round 13): mean absolute deviation of the observed digit shares
    from log₁₀(1+1/d), graded against Nigrini's published cutoffs
    (0.0006 / 0.0012 / 0.0015) — the χ² in agg_benford_profile scales
    with n (EVERYTHING is significant at 60M rows); MAD is the
    n-free effect size forensic practice actually grades on, so the
    pair separates "statistically off" from "materially off".

    Exactness: per-digit |share − Benford| floors e9 before the
    order-free 9-term sum; the grade thresholds are integer
    comparisons on the floored MAD (cutoffs as e9 literals).

    Scale: one digit rollup (9 cells) + a fold."""
    orders = load(spark, sf_dir, "orders")
    digits = orders.groupBy(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("digit")
    ).agg(F.count("*").cast("bigint").alias("o"))
    w_all = Window.partitionBy()
    tot = digits.select(
        "digit", "o", F.sum("o").over(w_all).cast("bigint").alias("n")
    )
    devs = tot.select(
        "digit",
        F.floor(
            F.abs(
                F.col("o").cast("double") / F.col("n")
                - F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
            )
            * 1000000000
        )
        .cast("bigint")
        .alias("absdev_e9"),
    )
    mad = devs.agg(
        F.count("*").cast("bigint").alias("n_digits"),
        F.expr("CAST(SUM(absdev_e9) DIV COUNT(*) AS BIGINT)").alias(
            "mad_e9"
        ),
    )
    return mad.select(
        "n_digits",
        "mad_e9",
        F.when(F.col("mad_e9") < 600000, "close")
        .when(F.col("mad_e9") < 1200000, "acceptable")
        .when(F.col("mad_e9") < 1500000, "marginal")
        .otherwise("nonconforming")
        .alias("nigrini_grade"),
    )


@query(
    "agg_taylor_law",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(c) AS BIGINT) AS s1,
               SUM(CAST(c AS HUGEINT) * c) AS s2
        FROM daily GROUP BY 1
    ), mom AS (
        SELECT event_type,
               CAST(FLOOR(ln(CAST(s1 AS DOUBLE) / nd) * 1000000000)
                    AS BIGINT) AS lnm_e9,
               CAST(FLOOR(ln((CAST(s2 AS DOUBLE)
                              - CAST(s1 AS DOUBLE) * s1 / nd)
                             / (nd - 1.0)) * 1000000000) AS BIGINT)
                   AS lnv_e9
        FROM g
        WHERE CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd > 0
    ), fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(lnm_e9) AS BIGINT) AS sx,
               CAST(SUM(lnv_e9) AS BIGINT) AS sy,
               SUM(CAST(lnm_e9 AS HUGEINT) * lnm_e9) AS sxx,
               SUM(CAST(lnm_e9 AS HUGEINT) * lnv_e9) AS sxy
        FROM mom
    )
    SELECT k,
           CAST(FLOOR((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * sy)
                      / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx)
                      * 1000000) AS BIGINT) AS taylor_b_e6,
           CAST(FLOOR((CAST(sy AS DOUBLE)
                       - (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * sy)
                         / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * sx)
                         * CAST(sx AS DOUBLE))
                      / k / 1000000000.0 * 1000000) AS BIGINT)
               AS ln_a_e6
    FROM fit
    """,
)
def agg_taylor_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAYLOR'S POWER LAW fit across the event-type fleet (round 13):
    regress ln(variance) on ln(mean) of the per-type daily counts —
    variance ≈ a·mean^b with b ∈ [1,2] for most real count processes
    (b = 1 Poisson, b = 2 fully synchronized); the fleet-level
    dispersion readout behind agg_poisson_dispersion's per-series
    test, and the standard capacity-planning input ("how does burst
    variance scale with volume?").

    Exactness: per-type (n, Σc, Σc²) are exact (HUGEINT squares);
    ln(mean)/ln(variance) floor e9 per type BEFORE the order-free
    regression sums (which then run in HUGEINT — e9² terms); the OLS
    slope/intercept are one shared double chain each. Zero-variance
    types drop (log pole).

    Scale: two cascaded rollups + a 5-point fold."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    d38 = "decimal(38,0)"
    g = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("nd"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c").cast(d38) * F.col("c")).alias("s2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var = (d("s2") - d("s1") * F.col("s1") / F.col("nd")) / (F.col("nd") - 1.0)
    mom = g.filter(
        d("s2") - d("s1") * F.col("s1") / F.col("nd") > 0
    ).select(
        "event_type",
        F.floor(F.log(d("s1") / F.col("nd")) * 1000000000)
        .cast("bigint")
        .alias("lnm_e9"),
        F.floor(F.log(var) * 1000000000).cast("bigint").alias("lnv_e9"),
    )
    fit = mom.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("lnm_e9").cast("bigint").alias("sx"),
        F.sum("lnv_e9").cast("bigint").alias("sy"),
        F.sum(F.col("lnm_e9").cast(d38) * F.col("lnm_e9")).alias("sxx"),
        F.sum(F.col("lnm_e9").cast(d38) * F.col("lnv_e9")).alias("sxy"),
    )
    slope = (d("k") * d("sxy") - d("sx") * F.col("sy")) / (
        d("k") * d("sxx") - d("sx") * F.col("sx")
    )
    intercept = (d("sy") - slope * d("sx")) / F.col("k") / 1000000000.0
    return fit.select(
        "k",
        F.floor(slope * 1000000).cast("bigint").alias("taylor_b_e6"),
        F.floor(intercept * 1000000).cast("bigint").alias("ln_a_e6"),
    )
