"""Time-series operators over the event stream: regular-grid
resampling with gap fill, time-RANGE rolling windows, equi-width
histograms.

The reference's feed is itself a time series (blocks/rates arriving on
a clock — SURVEY §3.1); these are the operators its consumers run:
"give me a regular hourly series even where nothing happened",
"trailing one-hour volume per key", "the shape of the value
distribution".

Determinism discipline: ROWS-framed running fills are ordered by the
(gap-free) grid timestamp — a unique key within partition, so frames
are unambiguous; the RANGE frame is keyed on integral epoch seconds
(Spark ``unix_timestamp`` and DuckDB ``CAST(epoch(..) AS BIGINT)``
both truncate toward zero for post-1970 data) and RANGE includes all
peers by definition, so equal-second ties cannot reorder the sum;
measures are FLOOR-integerized before summing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphsense_datafeed_spark.functions.hashing import md5_int
from graphsense_datafeed_spark.ingest.iterate import iterate, materialize
from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.sources.tables import load


@query(
    "ts_resample_locf",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events WHERE user_id < 40
      GROUP BY user_id, date_trunc('hour', ts)
    ), bounds AS (
      SELECT user_id, MIN(hour_ts) AS h0, MAX(hour_ts) AS h1
      FROM hourly GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      FROM bounds
    )
    SELECT g.user_id, g.hour_ts,
           last_value(h.n_events IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hour_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS n_events_locf,
           h.n_events IS NULL AS is_gap
    FROM grid g
    LEFT JOIN hourly h
      ON g.user_id = h.user_id AND g.hour_ts = h.hour_ts
    """,
)
def ts_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event stream onto a regular hourly grid
    between their first and last active hour, carrying the last
    observation forward across gaps (LOCF) and flagging filled rows.

    Plan: an aggregation builds the sparse hourly series; per-user
    bounds cascade off it; the dense grid comes from ``sequence()`` +
    explode — generation is narrow and sized by hours-per-user. The
    fill is a running ``last(ignorenulls)`` ordered by the gap-free
    grid timestamp (unique per partition → unambiguous frames). At
    100 TB the grid explode is the only row-multiplying step and its
    fan-out is bounded by the resample period, not by event volume."""
    hourly = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    # The bounds branch re-derives the rollup rather than sharing one
    # exchange: Catalyst prunes n_events out of the bounds copy, so
    # the subtrees are not identical and ReusedExchange cannot fire
    # (verified — a window-based variant loses to pruning the same
    # way). Both passes are pushed-down (user_id filter) and pruned
    # to two columns, asserted in tests/test_plans.py; the production
    # form at 100 TB materializes the hourly rollup table first and
    # both consumers read THAT — the standard pre-aggregation step,
    # same plan with storage in place of the second scan.
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_ts").alias("h0"), F.max("hour_ts").alias("h1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour_ts"),
        )
    )
    joined = grid.join(hourly, ["user_id", "hour_ts"], "left")
    w = Window.partitionBy("user_id").orderBy("hour_ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "user_id",
        "hour_ts",
        F.last("n_events", ignorenulls=True).over(w).alias("n_events_locf"),
        F.col("n_events").isNull().alias("is_gap"),
    )


@query(
    "win_time_range_sum",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(FLOOR(value) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(epoch(ts) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_1h
    FROM events WHERE user_id < 40
    """,
)
def win_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour volume per user at every event — a true
    time-RANGE frame (seconds, not row counts), the window shape the
    rates/blocks consumers actually ask for.

    The frame is keyed on integral epoch seconds; RANGE includes all
    equal-second peers by definition, so tie order cannot change any
    frame's contents. Compare win_moving_avg's ROWS frame: that one
    answers "last 3 observations", this answers "last hour" —
    irregular event spacing makes them genuinely different operators."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.floor("value").cast("bigint"))
        .over(w)
        .cast("bigint")
        .alias("trailing_1h"),
    )


@query(
    "histogram_equiwidth",
    """
    SELECT CAST(FLOOR(o_totalprice / 20000) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(FLOOR(o_totalprice)) AS BIGINT) AS bucket_min_fl,
           CAST(MAX(FLOOR(o_totalprice)) AS BIGINT) AS bucket_max_fl
    FROM orders
    GROUP BY CAST(FLOOR(o_totalprice / 20000) AS BIGINT)
    """,
)
def histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram of order totals (20k-wide buckets)
    with per-bucket observed min/max — the distribution-shape profile
    behind partition sizing and skew diagnosis. One
    map-side-combinable aggregation on a derived key; FLOOR keeps
    bucket assignment tie-free (the double division is bit-identical
    in both engines)."""
    orders = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 20000).cast("bigint")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min(F.floor("o_totalprice")).cast("bigint").alias("bucket_min_fl"),
            F.max(F.floor("o_totalprice")).cast("bigint").alias("bucket_max_fl"),
        )
    )


@query(
    "ts_interpolate_linear",
    """
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour_ts,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
                   / (COUNT(*) * 100) AS v
        FROM events WHERE user_id < 40
        GROUP BY user_id, date_trunc('hour', ts)
    ), grid AS (
        SELECT user_id,
               unnest(generate_series(min(hour_ts), max(hour_ts),
                                      INTERVAL 1 HOUR)) AS hour_ts
        FROM hourly GROUP BY user_id
    ), joined AS (
        SELECT g.user_id, g.hour_ts, h.v,
               last_value(h.v IGNORE NULLS) OVER w_prev AS prev_v,
               last_value(CASE WHEN h.v IS NOT NULL THEN g.hour_ts END
                          IGNORE NULLS) OVER w_prev AS prev_t,
               first_value(h.v IGNORE NULLS) OVER w_next AS next_v,
               first_value(CASE WHEN h.v IS NOT NULL THEN g.hour_ts END
                           IGNORE NULLS) OVER w_next AS next_t
        FROM grid g LEFT JOIN hourly h USING (user_id, hour_ts)
        WINDOW
          w_prev AS (PARTITION BY user_id ORDER BY hour_ts ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_next AS (PARTITION BY user_id ORDER BY hour_ts ASC
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, hour_ts,
           CAST(FLOOR((CASE
               WHEN v IS NOT NULL THEN v
               WHEN prev_v IS NULL THEN next_v
               WHEN next_v IS NULL THEN prev_v
               ELSE prev_v + (next_v - prev_v)
                    * (epoch_us(hour_ts) - epoch_us(prev_t))
                    / (epoch_us(next_t) - epoch_us(prev_t))
           END) * 10000) AS BIGINT) AS v_interp_e4,
           (v IS NULL) AS was_gap
    FROM joined
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on the hourly grid — the smoother
    sibling of ts_resample_locf for continuous measures: each missing
    hour gets prev + (next-prev)·Δt/T between its nearest observed
    neighbors (edges extend flat). Same scale shape as LOCF: ONE
    user_id exchange carries the grid explode and BOTH directional
    windows; the interpolation itself is per-row arithmetic.

    Determinism: the hourly mean is integer-cents summed (order-free,
    exact) and divided ONCE, so both engines interpolate from
    bit-identical endpoints; time fractions are ratios of exact
    integral microsecond differences; and the output is FLOOR-e4
    scaled, not ROUND-4 — hour-fraction ratios like 17/40 make exact
    5-decimal values (2.28325) STRUCTURAL, and a .5 tie at the
    rounding digit flips between engines (measured; SURVEY §2.12
    rounding discipline). A float AVG for the endpoints ulp-flips the
    same way — both pitfalls hit in this one query."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
            / (F.count("*") * 100)
        ).alias("v")
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_ts").alias("h0"), F.max("hour_ts").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_ts"),
        )
    )
    j = grid.join(hourly, ["user_id", "hour_ts"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_t = F.when(F.col("v").isNotNull(), F.col("hour_ts"))
    marked = j.select(
        "user_id",
        "hour_ts",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_t, ignorenulls=True).over(w_prev).alias("prev_t"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(obs_t, ignorenulls=True).over(w_next).alias("next_t"),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (us("hour_ts") - us("prev_t"))
            / (us("next_t") - us("prev_t"))
        )
    )
    return marked.select(
        "user_id",
        "hour_ts",
        F.floor(interp * 10000).cast("bigint").alias("v_interp_e4"),
        F.col("v").isNull().alias("was_gap"),
    )


@query(
    "ts_outlier_mad",
    """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), spread AS (
        SELECT e.event_type,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad,
               ANY_VALUE(m.med) AS med
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(FLOOR(s.med * 10000) AS BIGINT) AS med_e4,
           CAST(FLOOR(s.mad * 10000) AS BIGINT) AS mad_e4,
           abs(e.value - s.med) > 4.4478 * s.mad AS is_outlier
    FROM events e JOIN spread s USING (event_type)
    """,
)
def ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series outlier flagging via median absolute
    deviation — the data-QA pass that survives exactly the corrupt
    values it hunts (mean/stddev z-scores are dragged by the outliers
    themselves; medians are not). Flag = |v - med| > 3·1.4826·MAD, the
    normal-consistent 3σ-equivalent, written as the single literal
    4.4478 so both engines associate the arithmetic identically.

    Two grouped EXACT percentile passes (bounded key: event_type) and
    a broadcast of the per-type (med, mad) table back onto the stream
    — the detail table never shuffles. Exact percentile buffers a
    group's values, which is fine per bounded key; at 100 TB swap in
    approx_percentile (the agg_approx_percentile contract row) and
    keep the identical downstream flag expression. Engine parity:
    both engines linear-interpolate the median over identical doubles
    (agg_percentile precedent), so med/mad are bit-identical and the
    strict-inequality flag cannot straddle engines."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    spread = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            ),
            F.any_value("med").alias("med"),
        )
    )
    return ev.join(F.broadcast(spread), "event_type").select(
        "event_id",
        "event_type",
        F.floor(F.col("med") * 10000).cast("bigint").alias("med_e4"),
        F.floor(F.col("mad") * 10000).cast("bigint").alias("mad_e4"),
        (F.abs(F.col("value") - F.col("med")) > 4.4478 * F.col("mad")).alias(
            "is_outlier"
        ),
    )


@query(
    "ts_ewma",
    """
    WITH ordered AS (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vals
        FROM events WHERE user_id < 30 GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_obs,
           CAST(FLOOR(list_reduce(vals, (acc, x) -> acc * 0.5 + x * 0.5)
                      * 1000000) AS BIGINT) AS ewma_e6
    FROM ordered
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α=0.5) of each user's
    value stream — the classic smoother whose recurrence
    s_i = α·v_i + (1−α)·s_{i−1} is inherently SEQUENTIAL per key: no
    window frame expresses it, and the closed-form power expansion
    under/overflows past ~1e3 observations.

    The scalable formulation is a BOUNDED keyed fold, never a
    collected array (VERDICT r5 #3): hash-repartition on user_id (one
    exchange — the same shuffle the groupBy paid), sort WITHIN each
    partition by (user_id, ts, event_id), then stream the partition
    through an Arrow ``mapInPandas`` fold carrying ONE double of state
    per open key across batches.  A key's whole history never
    materializes anywhere — not as a Spark array column, not as a
    pandas group — so a production-sized per-user event stream costs
    O(1) memory, exactly the keyed-streaming-state shape
    (stream_stateful) this operator graduates to in continuous form.

    Engine parity: both engines fold the IDENTICAL ordered sequence
    with the IDENTICAL seed (DuckDB's list_reduce seeds with the first
    element; the Python fold seeds with the first row and steps
    ``acc * 0.5 + v * 0.5`` in the same literal order), so every
    IEEE64 op matches bit-for-bit and floor-e6 is hash-safe.  Order is
    total: (ts, event_id) with event_id unique."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "ts", "event_id", "value")
    )
    out_schema = "user_id bigint, n_obs bigint, ewma_e6 bigint"

    def _fold(batches):
        """Numpy segmented scan (VERDICT r6 item 6), BIT-EQUAL to the
        sequential fold: because α = 0.5 makes every multiply an EXACT
        halving (power-of-two scaling commutes with IEEE rounding),
        folding a run [w₁..w_c] from state ``acc`` equals the strictly
        left-to-right sum of [acc·2⁻ᶜ, w₁·2⁻ᶜ, w₂·2⁻⁽ᶜ⁻¹⁾, …, w_c·2⁻¹]
        — computed with np.ldexp (exact) + np.add.accumulate (strictly
        sequential in C, no pairwise reassociation).  Runs fold in
        ≤256-value chunks so the 2⁻ᶜ scaling can never underflow for
        any |v| > 1e-230 (a subnormal scaled term would break the
        exactness argument); the Python loop is per chunk and per key
        segment, never per row.  Cross-batch state: one (key, acc, n)
        triple, exactly as before."""
        import math

        import numpy as np
        import pandas as pd

        _CHUNK = 256
        key, acc, n = None, 0.0, 0

        def finish():
            return pd.DataFrame(
                {
                    "user_id": [key],
                    "n_obs": [n],
                    "ewma_e6": [math.floor(acc * 1000000)],
                }
            )

        def fold_run(acc0, vals):
            i = 0
            m = len(vals)
            while i < m:
                c = min(_CHUNK, m - i)
                terms = np.empty(c + 1)
                terms[0] = math.ldexp(acc0, -c)
                np.ldexp(
                    vals[i : i + c],
                    (-np.arange(c, 0, -1)).astype(np.int32),
                    out=terms[1:],
                )
                acc0 = float(np.add.accumulate(terms)[-1])
                i += c
            return acc0

        for pdf in batches:
            users = pdf["user_id"].to_numpy()
            vals = pdf["value"].to_numpy(dtype="float64")
            if len(users) == 0:
                continue
            # segment boundaries: index where the key changes
            starts = np.flatnonzero(np.r_[True, users[1:] != users[:-1]])
            ends = np.r_[starts[1:], len(users)]
            for s, e in zip(starts, ends):
                u = users[s]
                if u != key:
                    if key is not None:
                        yield finish()
                    key, acc, n = u, float(vals[s]), 1
                    s += 1
                if e > s:
                    acc = fold_run(acc, vals[s:e])
                    n += e - s
        if key is not None:
            yield finish()

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(_fold, schema=out_schema)
    )


@query(
    "ts_zscore_anomaly",
    """
    WITH g AS (
        SELECT event_id, event_type, ts,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) OVER w
                    AS BIGINT) AS s,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)
                        * CAST(FLOOR(value * 10000) AS BIGINT)) OVER w
                    AS BIGINT) AS ss
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type,
           CASE WHEN n >= 8 THEN
             (CAST(v_e4 AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(v_e4 AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             > 9.0 * ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                       * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE))
           ELSE FALSE END AS is_anomaly,
           n AS n_window
    FROM g
    """,
)
def ts_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly flag: each event is compared
    against the mean/variance of its own series' PREVIOUS 24
    observations (frame ends at 1 PRECEDING — the candidate point
    must not contaminate its own baseline), flagged when
    (v−μ)² > (3σ)². Rows with fewer than 8 priors are never flagged
    (cold-start guard).

    Determinism: the window sums are BIGINT sums of floor-e4 values —
    exact and order-free — and μ/σ² enter only through one double
    expression both engines evaluate identically; the flag compares
    squares, avoiding a sqrt. Scale: one window sort per series
    partition; at 100 TB the sort key is (event_type, day-bucket)
    with frame-sized overlap carried between buckets, keeping
    partition sizes bounded instead of series-sized."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-24, -1)
    )
    g = ev.select(
        "event_id",
        "event_type",
        v.alias("v_e4"),
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum(v).over(w).cast("bigint").alias("s"),
        F.sum(v * v).over(w).cast("bigint").alias("ss"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dev = d("v_e4") - d("s") / d("n")
    var = (d("ss") - d("s") * d("s") / d("n")) / d("n")
    return g.select(
        "event_id",
        "event_type",
        F.when(F.col("n") >= 8, dev * dev > 9.0 * var)
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
        F.col("n").alias("n_window"),
    )


@query(
    "ts_changepoint_cusum",
    """
    WITH stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS s_total,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)
                        * CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS ss_total
        FROM events GROUP BY event_type
    ), run AS (
        SELECT e.event_id, e.event_type,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
               CAST(SUM(CAST(FLOOR(e.value * 10000) AS BIGINT)) OVER w
                    AS BIGINT) AS run_s,
               s.n_total, s.s_total, s.ss_total
        FROM events e JOIN stats s USING (event_type)
        WINDOW w AS (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type,
           CAST(FLOOR((CAST(run_s AS DOUBLE)
                       - CAST(i AS DOUBLE) * CAST(s_total AS DOUBLE)
                         / CAST(n_total AS DOUBLE)) / 10000) AS BIGINT)
               AS cusum_units,
           abs(CAST(run_s AS DOUBLE)
               - CAST(i AS DOUBLE) * CAST(s_total AS DOUBLE)
                 / CAST(n_total AS DOUBLE))
           > 5.0 * sqrt((CAST(ss_total AS DOUBLE)
                         - CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)
                           / CAST(n_total AS DOUBLE)) / CAST(n_total AS DOUBLE))
             * sqrt(CAST(i AS DOUBLE)) AS is_shift
    FROM run
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift detection per series: the running sum of
    deviations from the series mean, C_i = Σ_{j≤i} v_j − i·μ, flagged
    when |C_i| exceeds 5σ·√i (the random-walk-scaled control limit) —
    the monitoring pass that catches a feed whose level quietly
    changed (rate source drift, schema-mapped unit change) long
    before per-point outlier flags fire.

    Two exact integer layers (per-type totals; running window sums of
    floor-e4 values — both order-free bigint arithmetic), one double
    formula on top, identical in both engines. Scale: the global
    stats are a tiny broadcast; the running sum is one window sort
    per series — same bucketed-partition note as ts_zscore_anomaly;
    in streaming form this is one (sum, count) state pair per key."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    stats = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(v).alias("s_total"),
        F.sum(v * v).alias("ss_total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.sum(v).over(w).cast("bigint").alias("run_s"),
        "n_total",
        "s_total",
        "ss_total",
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cusum = d("run_s") - d("i") * d("s_total") / d("n_total")
    sd = F.sqrt(
        (d("ss_total") - d("s_total") * d("s_total") / d("n_total")) / d("n_total")
    )
    return run.select(
        "event_id",
        "event_type",
        F.floor(cusum / 10000).cast("bigint").alias("cusum_units"),
        (F.abs(cusum) > 5.0 * sd * F.sqrt(d("i"))).alias("is_shift"),
    )


@query(
    "events_retention",
    """
    WITH weekly AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        FROM events
    ), cohorts AS (
        SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id
    )
    SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
           CAST(datediff('day', CAST(c.cohort_week AS DATE),
                         CAST(w.week AS DATE)) / 7 AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_active
    FROM weekly w JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users are cohorted by their first
    active week, then each (cohort, week-offset) cell counts how many
    of them were still active that many weeks later — the
    product-analytics readout behind every "week-4 retention" number.

    Both engines truncate weeks to Monday (date_trunc('week')), and
    the offset divides an exact day difference between two week
    starts (always a multiple of 7) — integer-safe. Plan: one
    distinct over (user, week) — the only corpus-sized shuffle — a
    tiny per-user MIN, and a count-distinct over the joined pair;
    the cohort table re-joins by user_id on the same key the distinct
    already partitioned by, so AQE reuses the layout. At 100 TB the
    weekly activity table is the persisted incremental artifact
    (append one week per week); the triangle re-aggregates only
    |users-active| rows, never raw events."""
    ev = load(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    cohorts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    offset = (
        F.datediff(F.to_date("week"), F.to_date("cohort_week")) / 7
    ).cast("bigint")
    return (
        weekly.join(cohorts, "user_id")
        .groupBy(
            F.to_date("cohort_week").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
    )


@query(
    "histogram_equidepth",
    """
    WITH tiled AS (
        SELECT o_totalprice,
               ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(FLOOR(MIN(o_totalprice)) AS BIGINT) AS lo_fl,
           CAST(FLOOR(MAX(o_totalprice)) AS BIGINT) AS hi_fl
    FROM tiled GROUP BY bucket
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram of order totals (round 5):
    NTILE(8) over the global value order gives buckets of EQUAL ROW
    COUNT with data-driven boundaries — the histogram query optimizers
    and skew diagnostics actually want (equi-WIDTH buckets collapse
    into one bar under heavy-tailed data; see histogram_equiwidth for
    the fixed-grid sibling). The o_orderkey tiebreak pins which side
    of a boundary equal values land on, making bucket assignment
    bit-reproducible across engines.

    Round-7 scale rewrite (the r5 form globally sorted the table):
    the global row number decomposes TWO-LEVEL — coarse price cells
    (floor(price/4096), bounded by value range not row count) carry
    prefix counts via one tiny ordered pass over the cell TABLE;
    each row's rn = cell prefix + row_number within its cell (keyed
    window, hashpartitioned).  NTILE is then pure arithmetic on rn
    and the total N: base = N÷8, rem = N mod 8, first rem buckets
    take base+1 rows — bit-identical to the oracle's NTILE because
    (price, orderkey) is a total order.  No unpartitioned sort ever
    sees per-row data; the only single-partition stage consumes the
    pre-reduced cell table (plan-audit benign shape)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_totalprice",
        "o_orderkey",
        F.floor(F.col("o_totalprice") / 4096).cast("bigint").alias("cg"),
    )
    cells = orders.groupBy("cg").agg(F.count("*").cast("bigint").alias("c"))
    w_prev = Window.orderBy("cg").rowsBetween(Window.unboundedPreceding, -1)
    cells = cells.select(
        "cg",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0))
        .cast("bigint")
        .alias("prefix"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n_total"),
    )
    w_in = Window.partitionBy("cg").orderBy("o_totalprice", "o_orderkey")
    rn = (F.col("prefix") + F.row_number().over(w_in)).alias("rn")
    ranked = orders.join(F.broadcast(cells), "cg").select(
        "o_totalprice", "n_total", rn
    )
    base = (F.col("n_total") / 8).cast("bigint")
    rem = F.col("n_total") % 8
    head = rem * (base + 1)
    bucket = F.when(
        F.col("rn") <= head,
        ((F.col("rn") + base) / (base + 1)).cast("bigint"),
    ).otherwise(
        rem + ((F.col("rn") - head + base - 1) / base).cast("bigint")
    )
    return (
        ranked.select("o_totalprice", bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.floor(F.min("o_totalprice")).cast("bigint").alias("lo_fl"),
            F.floor(F.max("o_totalprice")).cast("bigint").alias("hi_fl"),
        )
    )


@query(
    "ts_downsample_m4",
    """
    WITH pts AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket, ts, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE user_id < 40
    ), marked AS (
        SELECT *,
            row_number() OVER (PARTITION BY user_id, bucket
                               ORDER BY ts, event_id) AS rn_f,
            row_number() OVER (PARTITION BY user_id, bucket
                               ORDER BY ts DESC, event_id DESC) AS rn_l,
            row_number() OVER (PARTITION BY user_id, bucket
                               ORDER BY cents, ts, event_id) AS rn_min,
            row_number() OVER (PARTITION BY user_id, bucket
                               ORDER BY cents DESC, ts, event_id) AS rn_max
        FROM pts
    )
    SELECT user_id, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pts,
           MAX(CASE WHEN rn_f = 1 THEN cents END) AS first_cents,
           MAX(CASE WHEN rn_min = 1 THEN cents END) AS min_cents,
           MAX(CASE WHEN rn_max = 1 THEN cents END) AS max_cents,
           MAX(CASE WHEN rn_l = 1 THEN cents END) AS last_cents,
           MAX(CASE WHEN rn_min = 1 THEN ts END) AS min_ts,
           MAX(CASE WHEN rn_max = 1 THEN ts END) AS max_ts
    FROM marked GROUP BY user_id, bucket
    """,
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (round 5; Jugel et al., VLDB'14): per series ×
    time bucket keep first/min/max/last WITH the extremes' timestamps
    — the error-free line-rendering reduction (any pixel column's
    drawn span is exactly preserved), and the standard dashboard
    pre-aggregate that turns billions of points into 4 per bucket.
    Plain MIN/MAX aggregation loses WHERE the extreme happened; M4's
    value is exactly those retained coordinates.

    All four row_number windows share the one (user_id, bucket) hash
    exchange (same partition spec, different orders — Spark reuses the
    partitioning, pays one sort per order), and the final rollup
    re-uses it again. Ties pin on (ts, event_id); for equal-value
    extremes the EARLIEST occurrence wins in both engines. At 100 TB
    this is the incremental per-day artifact: buckets never span
    ingest partitions, so each partition downsamples independently —
    no global state, append-only maintenance."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    pts = ev.select(
        "user_id",
        F.date_trunc("hour", "ts").alias("bucket"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    p = Window.partitionBy("user_id", "bucket")
    marked = pts.select(
        "*",
        F.row_number().over(p.orderBy("ts", "event_id")).alias("rn_f"),
        F.row_number()
        .over(p.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        .alias("rn_l"),
        F.row_number().over(p.orderBy("cents", "ts", "event_id")).alias("rn_min"),
        F.row_number()
        .over(p.orderBy(F.col("cents").desc(), "ts", "event_id"))
        .alias("rn_max"),
    )
    pick = lambda flag, col: F.max(F.when(F.col(flag) == 1, F.col(col)))  # noqa: E731
    return marked.groupBy("user_id", "bucket").agg(
        F.count("*").cast("bigint").alias("n_pts"),
        pick("rn_f", "cents").alias("first_cents"),
        pick("rn_min", "cents").alias("min_cents"),
        pick("rn_max", "cents").alias("max_cents"),
        pick("rn_l", "cents").alias("last_cents"),
        pick("rn_min", "ts").alias("min_ts"),
        pick("rn_max", "ts").alias("max_ts"),
    )


@query(
    "date_spine_fill",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ), spine AS (
        SELECT unnest(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY))::DATE
                   AS d
        FROM daily
    )
    SELECT s.d AS order_date,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(total_cents, 0) AS total_cents,
           n_orders IS NULL AS is_gap
    FROM spine s LEFT JOIN daily USING (d)
    """,
)
def date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine zero-fill (round 5): daily order totals over the
    COMPLETE date span, absent days emitted as explicit zeros with a
    gap flag — the reporting staple GROUP BY alone cannot produce
    (missing groups simply don't exist, so week-over-week deltas,
    moving averages, and gap alarms all silently skip them). The spine
    generates from the data's own min/max — one tiny aggregate — and
    the left join back is spine-sized, not fact-sized.

    Scale: the daily aggregate is the standard partial+final hash agg
    over the fact table; the spine is |days| rows (thousands for
    decades) so the join BROADCASTS the spine side; zero-fill is
    per-row coalesce. Integer-cents domain throughout — no float
    drift."""
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )
    spine = daily.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    ).select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    return spine.join(daily, "d", "left").select(
        F.col("d").alias("order_date"),
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce("total_cents", F.lit(0)).cast("bigint").alias("total_cents"),
        F.col("n_orders").isNull().alias("is_gap"),
    )


@query(
    "ts_seasonality_profile",
    """
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events GROUP BY dayofweek(ts), hour(ts)
    """,
)
def ts_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile (round 5): the (day-of-week × hour-of-day)
    activity matrix — events, distinct users, and value per calendar
    cell. The fingerprint behind anomaly baselines ("is this Tuesday
    3pm normal for a Tuesday 3pm?"), capacity planning, and the
    seasonal-naive forecast; ts_zscore_anomaly's trailing window
    flags level shifts, this profiles the EXPECTED periodic shape the
    z-score must not flag. One partial-aggregated pass over a 7×24
    key space — group state is constant-bounded at any corpus size,
    the friendliest aggregation shape 100 TB allows.

    Engine parity trap pinned (SURVEY §2.12): day-of-week NUMBERING
    differs — Spark's dayofweek is 1=Sunday..7, DuckDB's is
    0=Sunday..6, so the oracle shifts by +1."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


@query(
    "agg_histogram_log2",
    """
    SELECT CAST(length(bin(CAST(ROUND(o_totalprice * 100) AS BIGINT)))
                AS BIGINT) AS bucket_log2,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS lo_cents,
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS hi_cents
    FROM orders
    GROUP BY length(bin(CAST(ROUND(o_totalprice * 100) AS BIGINT)))
    """,
)
def agg_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2 (doubling-bucket) histogram (round 5): order totals
    bucketed by binary magnitude — the heavy-tail profile equi-width
    bars flatten (one giant bar) and equi-depth boundaries obscure
    (latency/price/size distributions live on a log axis). The bucket
    key is the BIT LENGTH of the integer cents (floor(log2)+1),
    computed entirely in the integer/string domain — deliberately NOT
    floor(log2(x)) in doubles, whose last-ulp differences between the
    JVM's and DuckDB's libm could flip a value across a bucket
    boundary at exact powers of two. One partial-aggregated pass over
    a ≤64-bucket key space; the same trick gives log-scaled latency
    histograms on any metrics pipeline."""
    orders = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    bucket = F.length(F.conv(cents.cast("string"), 10, 2)).cast("bigint")
    return (
        orders.select(cents.alias("cents"), bucket.alias("bucket_log2"))
        .groupBy("bucket_log2")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("cents").cast("bigint").alias("lo_cents"),
            F.max("cents").cast("bigint").alias("hi_cents"),
        )
    )


@query(
    "ts_acf",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS v,
               lag(CAST(FLOOR(value * 100) AS BIGINT), 1) OVER w AS y1,
               lag(CAST(FLOOR(value * 100) AS BIGINT), 2) OVER w AS y2,
               lag(CAST(FLOOR(value * 100) AS BIGINT), 3) OVER w AS y3
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), pairs AS (
        SELECT event_type, CAST(1 AS BIGINT) AS lag_k, v AS x, y1 AS y
        FROM base WHERE y1 IS NOT NULL
        UNION ALL
        SELECT event_type, 2, v, y2 FROM base WHERE y2 IS NOT NULL
        UNION ALL
        SELECT event_type, 3, v, y3 FROM base WHERE y3 IS NOT NULL
    ), stats AS (
        SELECT event_type, lag_k,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, lag_k, n,
           CAST(FLOOR(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               * 1000000) AS BIGINT) AS acf_e6
    FROM stats
    """,
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1–3 per series (round 5 batch
    6): Pearson correlation between each series and its own k-step-
    lagged self — THE seasonality/memory probe run before choosing a
    forecasting model (flat ACF → don't bother with AR terms;
    ts_seasonality_profile shows WHERE the cycle is, this shows HOW
    MUCH of the variance it explains).

    Determinism is agg_corr_exact's discipline applied per (series,
    lag): the five sufficient statistics are EXACT bigint sums of
    floor-e2 encodings (order-free, merge-safe — v² ≤ 1.1e9 keeps Σx²
    under bigint far past 1e9 rows per series), and the Pearson
    formula runs ONCE per output row in IEEE64 both engines evaluate
    identically. The three lag columns ride ONE window (shared
    exchange + sort); the lag-stack explode is narrow.

    Scale: one exchange on event_type, one in-partition sort, then a
    35-row aggregate — series parallelize across executors; at 100 TB
    the sort runs per (series, day-bucket) with k rows of overlap
    carried across bucket edges (the standard frame-overlap split)."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = ev.select(
        "event_type",
        v.alias("v"),
        F.lag(v, 1).over(w).alias("y1"),
        F.lag(v, 2).over(w).alias("y2"),
        F.lag(v, 3).over(w).alias("y3"),
    )
    pairs = base.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("lag_k"),
                        F.col("v").alias("x"),
                        F.col(f"y{k}").alias("y"),
                    )
                    for k in (1, 2, 3)
                ]
            )
        ).alias("p"),
    ).select("event_type", "p.lag_k", "p.x", "p.y").filter(
        F.col("y").isNotNull()
    )
    stats = pairs.groupBy("event_type", "lag_k").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    return stats.select(
        "event_type",
        "lag_k",
        "n",
        F.floor(num / den * 1000000).cast("bigint").alias("acf_e6"),
    )


@query(
    "events_attribution",
    """
    WITH keyed AS (
        SELECT event_id, user_id, ts, event_type,
               max(CASE WHEN event_type <> 'purchase' THEN
                     lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '|' ||
                     lpad(CAST(event_id AS VARCHAR), 12, '0') || '|' ||
                     event_type
                   END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS touch
        FROM events
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(substr(touch, 22, 12) AS BIGINT) AS touch_id,
           substr(touch, 35) AS touch_type,
           CAST(epoch_us(ts) - CAST(substr(touch, 1, 20) AS BIGINT)
                AS BIGINT) AS gap_us
    FROM keyed
    WHERE event_type = 'purchase' AND touch IS NOT NULL
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (round 5 batch 6): every purchase is
    credited to the user's most recent PRECEDING non-purchase event —
    the marketing-analytics join ("which click/view gets the
    conversion credit?") that a naive as-of join can't express because
    the match predicate excludes the fact table's own event class.

    The conditional-last-in-window trick: encode each candidate touch
    as a fixed-width zero-padded sortable string
    (epoch_us‖event_id‖type), take MAX(CASE WHEN eligible) over the
    UNBOUNDED..1 PRECEDING frame — byte-wise string max over ASCII
    digits IS chronological max on both engines, ties broken by the
    unique id, and the frame-end excludes self-attribution. One window
    per user; decode by substring afterwards.

    Scale: one exchange on user_id + in-partition sort shared with
    every other per-user window; the carried state is ONE string per
    row. At 100 TB this is the streaming `last eligible event per key`
    state (stream_stateful's shape) — the batch window is its replay."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    key = F.concat(
        F.lpad(us.cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
        F.lit("|"),
        F.col("event_type"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    keyed = ev.select(
        "event_id",
        "user_id",
        "event_type",
        us.alias("us"),
        F.max(F.when(F.col("event_type") != "purchase", key)).over(w).alias(
            "touch"
        ),
    )
    return keyed.filter(
        (F.col("event_type") == "purchase") & F.col("touch").isNotNull()
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.substring("touch", 22, 12).cast("bigint").alias("touch_id"),
        F.substring("touch", 35, 100).alias("touch_type"),
        (F.col("us") - F.substring("touch", 1, 20).cast("bigint"))
        .cast("bigint")
        .alias("gap_us"),
    )


@query(
    "events_rfm_segment",
    """
    WITH p AS (
        SELECT user_id,
               CAST(MAX(ts) AS DATE) AS last_d,
               CAST(COUNT(*) AS BIGINT) AS f,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                   AS m_cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), anch AS (
        SELECT MAX(last_d) AS anchor FROM p
    ), rfm AS (
        SELECT user_id,
               CAST(date_diff('day', last_d, (SELECT anchor FROM anch))
                    AS BIGINT) AS r_days,
               f, m_cents,
               CAST(ntile(4) OVER (ORDER BY
                    date_diff('day', last_d, (SELECT anchor FROM anch)),
                    user_id) AS BIGINT) AS r_q,
               CAST(ntile(4) OVER (ORDER BY f, user_id) AS BIGINT) AS f_q,
               CAST(ntile(4) OVER (ORDER BY m_cents, user_id) AS BIGINT)
                   AS m_q
        FROM p
    )
    SELECT user_id, r_days, f, m_cents, r_q, f_q, m_q,
           CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code
    FROM rfm
    """,
)
def events_rfm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (round 5 batch 6): per-user Recency (days since
    last purchase, anchored to the corpus's own latest purchase date
    so the query is reproducible), Frequency (purchase count) and
    Monetary (exact cent sum), each cut into quartiles — the classic
    customer-value grid (r_q=4,f_q=4,m_q=4 ≈ churned whales) that CRM
    scoring, win-back targeting and LTV models all start from.

    Determinism: cents are floored per event THEN bigint-summed;
    every NTILE rides a (metric, user_id) total order; the anchor date
    is a 1-row broadcast, never a driver collect. Three global NTILEs
    = three sorts over the per-user AGGREGATE (|users| rows, the same
    local/global split as agg_lorenz_deciles — at 100 TB swap each for
    approx-quantile boundaries + one bucketing pass)."""
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").cast("date").alias("last_d"),
            F.count("*").cast("bigint").alias("f"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("m_cents"),
        )
    )
    anch = p.agg(F.max("last_d").alias("anchor"))
    rfm = (
        p.crossJoin(F.broadcast(anch))
        .withColumn("r_days", F.datediff("anchor", "last_d").cast("bigint"))
        .select(
            "user_id",
            "r_days",
            "f",
            "m_cents",
            F.ntile(4)
            .over(Window.orderBy("r_days", "user_id"))
            .cast("bigint")
            .alias("r_q"),
            F.ntile(4)
            .over(Window.orderBy("f", "user_id"))
            .cast("bigint")
            .alias("f_q"),
            F.ntile(4)
            .over(Window.orderBy("m_cents", "user_id"))
            .cast("bigint")
            .alias("m_q"),
        )
    )
    return rfm.select(
        "user_id",
        "r_days",
        "f",
        "m_cents",
        "r_q",
        "f_q",
        "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("bigint")
        .alias("rfm_code"),
    )


@query(
    "ts_holt_linear",
    """
    WITH ordered AS (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vals
        FROM events WHERE user_id < 30 GROUP BY user_id
    ), folded AS (
        SELECT user_id, CAST(len(vals) AS BIGINT) AS n_obs,
               list_reduce(
                   list_transform(vals,
                                  v -> [CAST(v AS DOUBLE),
                                        CAST(0.0 AS DOUBLE)]),
                   (acc, x) -> [
                       0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                       0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2]))
                               - acc[1])
                       + 0.75 * acc[2]
                   ]
               ) AS st
        FROM ordered
    )
    SELECT user_id, n_obs,
           CAST(FLOOR(st[1] * 1000000) AS BIGINT) AS level_e6,
           CAST(FLOOR(st[2] * 1000000) AS BIGINT) AS trend_e6,
           CAST(FLOOR((st[1] + st[2]) * 1000000) AS BIGINT) AS forecast1_e6
    FROM folded
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing (round 5 batch 7), α=0.5 β=0.25:
    the double-exponential recurrence lₜ = α·vₜ + (1−α)(lₜ₋₁+bₜ₋₁),
    bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁ — what ts_ewma becomes once the
    series has drift (a plain EWMA lags a trending series forever;
    Holt tracks the slope and forecasts l+b one step out).

    ts_ewma's BOUNDED keyed-ordered-fold pattern (VERDICT r5 #3)
    carried to a TWO-field state: hash-repartition on user_id, local
    sort by (user_id, ts, event_id), then an Arrow ``mapInPandas``
    stream folding (level, trend) — two doubles of state per open key,
    carried across batches, with no per-key array or pandas group ever
    materialized.  Seeded by the first element in both engines (DuckDB
    list_reduce seeds with element 1; the Python fold seeds
    l = v₁, b = 0).  The oracle keeps its ARRAY accumulator,
    deliberately not a struct: DuckDB's list_reduce over struct
    accumulators updates fields SEQUENTIALLY (the 'b' expression
    already sees the new 'l' — measured, not documented), while list
    accumulators snapshot — and the Python fold reads both old fields
    before writing either, matching the snapshot semantics.  The step
    expressions are written in the oracle's literal order
    (``0.5 * v + 0.5 * (l + b)``), and α, β are exactly representable
    in binary, so the IEEE64 sequences stay bit-equal and floor-e6 is
    hash-safe.

    Scale: one exchange (the same shuffle a groupBy would pay), O(1)
    state per key; the streaming form is the same two doubles as
    keyed state."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "ts", "event_id", "value")
    )
    out_schema = (
        "user_id bigint, n_obs bigint, level_e6 bigint, "
        "trend_e6 bigint, forecast1_e6 bigint"
    )

    def _fold(batches):
        import math

        import pandas as pd

        key, lvl, trd, n = None, 0.0, 0.0, 0

        def finish():
            return pd.DataFrame(
                {
                    "user_id": [key],
                    "n_obs": [n],
                    "level_e6": [math.floor(lvl * 1000000)],
                    "trend_e6": [math.floor(trd * 1000000)],
                    "forecast1_e6": [math.floor((lvl + trd) * 1000000)],
                }
            )

        # The coupled (level, trend) recurrence is a 2-state matrix
        # scan: any vectorization reassociates its additions and
        # breaks bit-parity with the oracle's list_reduce (unlike
        # ts_ewma, whose single state decomposes into EXACT ldexp
        # scalings).  The fold therefore stays sequential; iterating
        # plain Python floats (.tolist()) instead of numpy scalars
        # keeps the per-row cost to native float arithmetic.
        for pdf in batches:
            users = pdf["user_id"].tolist()
            vals = pdf["value"].tolist()
            for u, v in zip(users, vals):
                if u != key:
                    if key is not None:
                        yield finish()
                    key, lvl, trd, n = u, float(v), 0.0, 1
                else:
                    l_new = 0.5 * v + 0.5 * (lvl + trd)
                    trd = 0.25 * ((0.5 * v + 0.5 * (lvl + trd)) - lvl) + 0.75 * trd
                    lvl = l_new
                    n += 1
        if key is not None:
            yield finish()

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(_fold, schema=out_schema)
    )


@query(
    "ts_seasonal_adjust",
    """
    WITH cells AS (
        SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hod,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, c.dow, c.hod,
           CAST(FLOOR(e.value * 10000) AS BIGINT) AS v_e4,
           CAST(FLOOR(CAST(c.s AS DOUBLE) / c.n) AS BIGINT)
               AS seasonal_mean_e4,
           CAST(FLOOR(CAST(CAST(FLOOR(e.value * 10000) AS BIGINT) AS DOUBLE)
                      - CAST(c.s AS DOUBLE) / c.n) AS BIGINT) AS residual_e4
    FROM events e
    JOIN cells c ON dayofweek(e.ts) = c.dow
                AND CAST(hour(e.ts) AS BIGINT) = c.hod
    """,
)
def ts_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal adjustment (round 5 batch 9): subtract each event's
    (day-of-week × hour) seasonal cell mean from its value — turning
    ts_seasonality_profile's FINGERPRINT into a TRANSFORM. The
    deseasonalized residual is what anomaly detection should consume:
    ts_zscore_anomaly on raw values flags every Monday 9am peak as an
    outlier; on residuals it flags only departures from the weekly
    rhythm.

    Cell means come from exact bigint (Σ floor-e4, n) per cell — 7×24
    mergeable state — and each row's residual is ONE double expression
    (v − s/n) floored e4, so parity holds without any float agg. The
    cell table broadcasts back onto the detail (the ts_outlier_mad
    shape: the detail never re-shuffles). DOW parity: both sides key
    the JOIN on each engine's own dayofweek encoding — the cell is
    identical either way; the EMITTED dow uses DuckDB numbering
    (Spark −1) like agg_chi_square.

    Scale: one partial agg to 168 cells + broadcast join — the
    seasonal profile is the persistable artifact; at 100 TB it updates
    incrementally (mergeable sums) while the adjustment stays a
    map-only pass."""
    ev = load(spark, sf_dir, "events")
    dow = (F.dayofweek("ts") - 1).alias("dow")
    hod = F.hour("ts").cast("bigint").alias("hod")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    cells = ev.groupBy(dow, hod).agg(
        F.sum(v).cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    detail = ev.select(
        "event_id",
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
        v.alias("v_e4"),
    )
    j = detail.join(F.broadcast(cells), ["dow", "hod"])
    mean = F.col("s").cast("double") / F.col("n")
    return j.select(
        "event_id",
        "dow",
        "hod",
        "v_e4",
        F.floor(mean).cast("bigint").alias("seasonal_mean_e4"),
        F.floor(F.col("v_e4").cast("double") - mean)
        .cast("bigint")
        .alias("residual_e4"),
    )


@query(
    "events_markov_transitions",
    """
    WITH tape AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), counts AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM tape WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(FLOOR(CAST(n AS DOUBLE) * 1000000
                      / SUM(n) OVER (PARTITION BY from_type)) AS BIGINT)
               AS p_e6
    FROM counts
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types (round 5
    batch 11): for every adjacent pair in each user's stream, count
    (from → to) and normalize per source state — the behavioral model
    behind next-action prediction, bot detection (near-deterministic
    rows) and synthetic-session generation; text_bigram_lm's shape on
    the EVENT alphabet, with per-row adjacency from a lag window
    rather than intra-document arrays.

    One (user) window exchange for the lag, one map-side-combinable
    count agg to a |types|² table, and the row-normalizing window
    runs on that tiny matrix; n is exact bigint and each probability
    is one floored double division. Streaming form: the (prev, curr)
    pair emits from one event of keyed state — stream_stateful's
    shape."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tape = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = tape.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.floor(F.col("n").cast("double") * 1000000 / F.sum("n").over(wrow))
        .cast("bigint")
        .alias("p_e6"),
    )


@query(
    "events_active_users_rolling",
    """
    WITH activity AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (
        SELECT DISTINCT d FROM activity
    )
    SELECT days.d,
           CAST(COUNT(DISTINCT CASE WHEN a.d = days.d
                                    THEN a.user_id END) AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN a.d > days.d - 7
                                    THEN a.user_id END) AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS mau
    FROM days JOIN activity a
      ON a.d <= days.d AND a.d > days.d - 30
    GROUP BY days.d
    """,
)
def events_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU (round 5 batch 12): per calendar day, the
    distinct users active that day, in the trailing 7 days, and in the
    trailing 30 — THE product-health triple every analytics stack
    reports, and a window shape SQL windows cannot express (COUNT
    (DISTINCT) OVER a RANGE frame is rejected by both engines;
    agg_hll_window_rollup solves it approximately by sketch-merge,
    this is the EXACT form).

    The exact form is a day×activity RANGE JOIN on the 30-day bound
    with conditional distincts per tier — one pass computes all three
    tiers because DAU ⊂ WAU ⊆ MAU share the same joined rows. Work is
    |days| × (active users per trailing month), i.e. bounded by the
    calendar and per-month reach, NOT by raw event volume — the
    distinct (user, day) pre-aggregation is the row-scale shuffle.
    Date arithmetic stays in the integer day domain.

    Scale: at 100 TB the activity table is the persisted daily
    artifact (events_retention's discipline); beyond ~10⁸
    user-days-per-month the documented swap is the HLL rollup."""
    ev = load(spark, sf_dir, "events")
    activity = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = activity.select("d").distinct()
    a = activity.select(
        F.col("d").alias("ad"), F.col("user_id").alias("uid")
    )
    j = days.join(
        a,
        (F.col("ad") <= F.col("d"))
        & (F.col("ad") > F.date_sub(F.col("d"), 30)),
    )
    return j.groupBy("d").agg(
        F.countDistinct(
            F.when(F.col("ad") == F.col("d"), F.col("uid"))
        )
        .cast("bigint")
        .alias("dau"),
        F.countDistinct(
            F.when(F.col("ad") > F.date_sub(F.col("d"), 7), F.col("uid"))
        )
        .cast("bigint")
        .alias("wau"),
        F.countDistinct("uid").cast("bigint").alias("mau"),
    )


@query(
    "events_survival_km",
    """
    WITH anchor AS (
        SELECT MAX(CAST(ts AS DATE)) AS corpus_max FROM events
    ), users AS (
        SELECT user_id,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) AS t,
               MAX(CAST(ts AS DATE)) <
                   (SELECT corpus_max FROM anchor) - 3 AS churned
        FROM events GROUP BY user_id
    ), times AS (
        SELECT t,
               CAST(COUNT(*) AS BIGINT) AS n_at,
               CAST(COUNT(*) FILTER (churned) AS BIGINT) AS d
        FROM users GROUP BY t
    ), risk AS (
        SELECT t, d,
               CAST(SUM(n_at) OVER (ORDER BY t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_risk
        FROM times
    ), terms AS (
        SELECT t, d, n_risk,
               CASE WHEN d < n_risk THEN
                   CAST(FLOOR(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                              * 1000000000) AS BIGINT)
               ELSE NULL END AS term_e9
        FROM risk WHERE d > 0
    )
    SELECT t AS t_days, n_risk, d AS d_churned,
           CASE WHEN term_e9 IS NULL THEN 0
                ELSE CAST(FLOOR(exp(CAST(SUM(term_e9) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS DOUBLE) / 1000000000) * 1000000) AS BIGINT)
           END AS surv_e6
    FROM terms
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes (round 5 batch
    12): S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) where lifetime = days between a
    user's first and last event, churn is OBSERVED only when the last
    event predates the corpus end by >3 days (later users are
    CENSORED — still alive as far as the data knows, which is exactly
    what KM handles and a naive churn-rate curve gets wrong). The
    retention readout ("what fraction of users survive 7 days?")
    product and churn models are built on.

    The float-product trap solved in log space: each event time's
    ln(1 − d/n) is floored to an e9 INTEGER once, the running product
    becomes an exact bigint prefix SUM over the tiny event-time table,
    and exp() of the floored sum is one deterministic double per row.
    d = n_risk (everyone left dies) can only happen at the final time
    — S pins to 0 there without touching ln(0).

    Scale: per-user min/max is one map-side agg; everything after
    runs on |distinct lifetimes| rows (≤ calendar span). The anchor
    date is a 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("corpus_max"))
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_d"),
            F.max(F.col("ts").cast("date")).alias("last_d"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.datediff("last_d", "first_d").alias("t"),
            (F.col("last_d") < F.date_sub(F.col("corpus_max"), 3)).alias(
                "churned"
            ),
        )
    )
    times = users.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_at"),
        F.count_if(F.col("churned")).cast("bigint").alias("d"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = times.select(
        "t",
        "d",
        F.sum("n_at").over(w_desc).cast("bigint").alias("n_risk"),
    ).filter(F.col("d") > 0)
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.floor(
            F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
            * 1000000000
        ).cast("bigint"),
    )
    terms = risk.withColumn("term_e9", term)
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("t").alias("t_days"),
        "n_risk",
        F.col("d").alias("d_churned"),
        F.when(F.col("term_e9").isNull(), F.lit(0))
        .otherwise(
            F.floor(
                F.exp(
                    F.sum("term_e9").over(w_asc).cast("double") / 1000000000
                )
                * 1000000
            )
        )
        .cast("bigint")
        .alias("surv_e6"),
    )


@query(
    "events_burstiness",
    """
    WITH gaps AS (
        SELECT event_type,
               CAST((epoch_us(ts) - epoch_us(lag(ts) OVER w)) // 1000
                    AS BIGINT) AS gap_ms
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), stats AS (
        SELECT event_type,
               CAST(COUNT(gap_ms) AS BIGINT) AS n_gaps,
               CAST(SUM(gap_ms) AS BIGINT) AS s,
               CAST(SUM(gap_ms * gap_ms) AS BIGINT) AS ss
        FROM gaps GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           CAST(FLOOR(CAST(s AS DOUBLE) / n_gaps) AS BIGINT)
               AS mean_gap_ms,
           CAST(FLOOR(
               sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                     * CAST(s AS DOUBLE) / n_gaps) / (n_gaps - 1))
               / (CAST(s AS DOUBLE) / n_gaps) * 1000000) AS BIGINT)
               AS cv_e6
    FROM stats
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event stream (round 5 batch 14):
    the coefficient of variation of consecutive gaps — CV ≈ 1 means
    memoryless Poisson arrivals (what organic traffic looks like),
    CV ≫ 1 means bursts (incidents, batch jobs, bots), CV ≪ 1 means
    a metronome (schedulers, scrapers). The one-number traffic-shape
    diagnostic that decides whether rate alarms need burst smoothing,
    and a strong bot signal next to events_markov_transitions'
    determinism readout.

    Gaps are exact integer MILLISECONDS off ONE (type, ts, event_id)
    window exchange (win_lag_lead's tape) — ms, not µs, deliberately:
    Σgap² in µs² overflows bigint already at day-scale gaps (measured,
    ANSI overflow), while ms² keeps the sums exact to ~10⁶-second gaps
    at 10⁹ rows; truncating division is identical in both engines.
    (n, Σ, Σ²) are exact bigint sums; the CV is one floored double
    expression.

    Scale: one window + one map-side-combinable agg to |types| rows;
    the streaming form keeps (prev_ts, n, Σ, Σ²) per key."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(F.col("ts")).over(w)
    gap_ms = F.floor(
        (us - F.unix_micros(prev.cast("timestamp"))) / 1000
    ).cast("bigint")
    gaps = ev.select("event_type", gap_ms.alias("gap_ms"))
    stats = gaps.groupBy("event_type").agg(
        F.count("gap_ms").cast("bigint").alias("n_gaps"),
        F.sum("gap_ms").cast("bigint").alias("s"),
        F.sum(F.col("gap_ms") * F.col("gap_ms")).cast("bigint").alias("ss"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("s") / F.col("n_gaps")
    sd = F.sqrt((d("ss") - d("s") * d("s") / F.col("n_gaps")) / (F.col("n_gaps") - 1))
    return stats.select(
        "event_type",
        "n_gaps",
        F.floor(mean).cast("bigint").alias("mean_gap_ms"),
        F.floor(sd / mean * 1000000).cast("bigint").alias("cv_e6"),
    )


@query(
    "ts_anomaly_pipeline",
    """
    WITH cells AS (
        SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hod,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), resid AS (
        SELECT e.event_id, e.event_type, e.ts,
               CAST(FLOOR(CAST(CAST(FLOOR(e.value * 10000) AS BIGINT)
                               AS DOUBLE)
                          - CAST(c.s AS DOUBLE) / c.n) AS BIGINT) AS r_e4
        FROM events e
        JOIN cells c ON dayofweek(e.ts) = c.dow
                    AND CAST(hour(e.ts) AS BIGINT) = c.hod
    ), g AS (
        SELECT event_id, event_type, r_e4,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(r_e4) OVER w AS BIGINT) AS s,
               CAST(SUM(r_e4 * r_e4) OVER w AS BIGINT) AS ss
        FROM resid
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type, r_e4, n AS n_window
    FROM g
    WHERE n >= 8
      AND (CAST(r_e4 AS DOUBLE) - CAST(s AS DOUBLE) / n)
          * (CAST(r_e4 AS DOUBLE) - CAST(s AS DOUBLE) / n)
          > 9.0 * ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                    * CAST(s AS DOUBLE) / n) / CAST(n AS DOUBLE))
    """,
)
def ts_anomaly_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deseasonalize-then-flag anomaly pipeline (round 5 batch 15):
    the composition ts_seasonal_adjust's docstring promises — subtract
    each event's (dow × hour) cell mean, THEN run the trailing z-score
    gate on the RESIDUAL — emitted as one plan with one oracle, the
    way a monitoring consumer actually deploys it. Flagging raw
    values alarms every weekly peak; flagging residuals alarms only
    departures from the rhythm — the set difference between this
    operator's output and ts_zscore_anomaly's IS the false-alarm mass
    the seasonal stage removes.

    Stage disciplines carry through unchanged: 168 exact-bigint cells
    broadcast onto the detail; residuals floor e4 per row; window
    sums of residuals are exact bigints; the flag compares squares.
    Emits only the flagged rows (alert-stream shape).

    Scale: broadcast join (no detail re-shuffle) into the same
    per-series window exchange the raw z-score uses — composing the
    stages costs ZERO additional shuffles over ts_zscore_anomaly
    alone."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(
        F.sum(v).cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    detail = ev.select(
        "event_id",
        "event_type",
        "ts",
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
        v.alias("v_e4"),
    )
    resid = detail.join(F.broadcast(cells), ["dow", "hod"]).select(
        "event_id",
        "event_type",
        "ts",
        F.floor(
            F.col("v_e4").cast("double")
            - F.col("s").cast("double") / F.col("n")
        )
        .cast("bigint")
        .alias("r_e4"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-24, -1)
    )
    g = resid.select(
        "event_id",
        "event_type",
        "r_e4",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("r_e4").over(w).cast("bigint").alias("s"),
        F.sum(F.col("r_e4") * F.col("r_e4")).over(w).cast("bigint").alias("ss"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dev = d("r_e4") - d("s") / F.col("n")
    var = (d("ss") - d("s") * d("s") / F.col("n")) / d("n")
    return g.filter((F.col("n") >= 8) & (dev * dev > 9.0 * var)).select(
        "event_id", "event_type", "r_e4", F.col("n").alias("n_window")
    )


@query(
    "events_velocity_rule",
    """
    WITH p AS (
        SELECT event_id, user_id, ts,
               CAST(epoch(ts) AS BIGINT) AS sec
        FROM events WHERE event_type = 'purchase'
    ), counted AS (
        SELECT event_id, user_id, ts,
               CAST(COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_24h
        FROM p
    )
    SELECT event_id, user_id, n_24h,
           n_24h >= 3 AS velocity_flag
    FROM counted
    """,
)
def events_velocity_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity rule (round 5 batch 17): flag a purchase when it is
    the user's ≥3rd within a trailing 24 h — the fraud/abuse rule
    shape ("N events of kind K within window W per key") that rule
    engines compile thousands of, here as its canonical one-window
    form. A true time-RANGE frame, not a ROWS frame: bursts are
    defined by the CLOCK, and irregular spacing makes "last k rows"
    a different (wrong) rule — win_time_range_sum's distinction
    applied to counting.

    The frame keys on integral epoch seconds (truncation identical
    both engines); RANGE includes all equal-second peers by
    definition so tie order cannot change any frame; the flag is a
    pure comparison. Scale: one exchange + per-user sort on the
    FILTERED purchase stream; the streaming form is exactly
    stream_sliding's windowed count with the flag as a filter — this
    operator is its batch replay."""
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-86400, 0)
    )
    counted = p.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_24h"),
    )
    return counted.select(
        "event_id",
        "user_id",
        "n_24h",
        (F.col("n_24h") >= 3).alias("velocity_flag"),
    )


@query(
    "ts_backtest_snaive",
    """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), paired AS (
        SELECT a.event_type, a.h, a.y, f.y AS yhat
        FROM hourly a
        JOIN hourly f
          ON f.event_type = a.event_type
         AND f.h = a.h - INTERVAL 168 HOUR
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(abs(y - yhat)) AS BIGINT) AS abs_err_sum,
           CAST(FLOOR(CAST(SUM(abs(y - yhat)) AS DOUBLE) / COUNT(*)
                      * 10000) AS BIGINT) AS mae_e4,
           CAST(FLOOR(CAST(SUM(abs(y - yhat)) AS DOUBLE) * 10000
                      / SUM(y)) AS BIGINT) AS wape_e4
    FROM paired GROUP BY event_type
    """,
)
def ts_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest (round 5 batch 19): predict
    every hour's event count by the SAME HOUR LAST WEEK (the 168-hour
    seasonal-naive forecast — the baseline every forecasting paper
    must beat and most dashboards quietly run), then score MAE and
    WAPE per series over the whole overlap span. A model that can't
    beat this table hasn't learned anything beyond the weekly rhythm
    ts_seasonality_profile displays; the backtest IS the evidence.

    The join is a self-equi-join on (series, hour − 168h) over the
    hourly AGGREGATE — the forecast needs no model state at all —
    and every error is an exact integer |y − ŷ| summed in bigint with
    two floored ratios at the end (WAPE = Σ|err|/Σy, the
    scale-independent one). Timestamp arithmetic stays on truncated
    hours (integral both engines).

    Scale: hourly rollup = the persisted artifact; the lagged join is
    calendar-sized per series. Backtesting fancier models swaps the
    forecast side of the SAME join."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("bigint").alias("y"))
    f = hourly.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("h2"),
        F.col("y").alias("yhat"),
    )
    paired = hourly.join(
        f,
        (F.col("et2") == F.col("event_type"))
        & (F.col("h2") == F.col("h") - F.expr("INTERVAL 168 HOURS")),
    )
    err = F.abs(F.col("y") - F.col("yhat"))
    return paired.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum(err).cast("bigint").alias("abs_err_sum"),
        F.floor(F.sum(err).cast("double") / F.count("*") * 10000)
        .cast("bigint")
        .alias("mae_e4"),
        F.floor(F.sum(err).cast("double") * 10000 / F.sum("y"))
        .cast("bigint")
        .alias("wape_e4"),
    )


@query(
    "agg_time_decay_mean",
    """
    WITH anchor AS (
        SELECT MAX(CAST(ts AS DATE)) AS d1 FROM events
    ), daily AS (
        SELECT event_type,
               CAST((SELECT d1 FROM anchor) - CAST(ts AS DATE) AS BIGINT)
                   AS age_d,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), weighted AS (
        SELECT event_type,
               CAST(FLOOR(pow(2.0, -CAST(age_d AS DOUBLE) / 7.0)
                          * CAST(s AS DOUBLE)) AS BIGINT) AS ws_e4,
               CAST(FLOOR(pow(2.0, -CAST(age_d AS DOUBLE) / 7.0)
                          * CAST(c AS DOUBLE) * 1000000) AS BIGINT) AS wc_e6
        FROM daily
    )
    SELECT event_type,
           CAST(SUM(ws_e4) AS BIGINT) AS decayed_sum_e4,
           CAST(SUM(wc_e6) AS BIGINT) AS decayed_count_e6,
           CAST(FLOOR(CAST(SUM(ws_e4) AS DOUBLE)
                      / (CAST(SUM(wc_e6) AS DOUBLE) / 1000000))
                AS BIGINT) AS decay_mean_e4
    FROM weighted GROUP BY event_type
    """,
)
def agg_time_decay_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay weighted mean (round 5 batch 21),
    half-life 7 days anchored to the corpus's own last day: recent
    observations count fully, week-old ones half — the recency
    weighting behind engagement scores, decayed feature aggregates
    and trend-following dashboards, where a plain mean treats a
    30-day-old spike as today's news. ts_ewma decays per OBSERVATION
    along each key's sequence; this decays per CLOCK DAY across the
    whole stream — different operators (irregular spacing makes them
    genuinely disagree).

    The order-dependent Σwᵢvᵢ float trap: group by integer AGE IN
    DAYS first (exact bigint subtotals per (series, age)), apply the
    decay weight ONCE per day-bucket — each wₐ·Sₐ floored to an
    integer — and total in bigint. ≤ span-days buckets per series, so
    quantization error is bounded by days, not rows. The weighted
    count scales e6 to keep small weights from flooring to zero.

    Scale: one daily-rollup agg (map-side), decay applied on the tiny
    (series × days) table; incremental form re-anchors by multiplying
    yesterday's totals by 2^(−1/7) — one scalar per key."""
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("d1"))
    daily = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy(
            "event_type",
            F.datediff("d1", F.col("ts").cast("date"))
            .cast("bigint")
            .alias("age_d"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 10000).cast("bigint"))
            .cast("bigint")
            .alias("s"),
            F.count("*").cast("bigint").alias("c"),
        )
    )
    w = F.pow(F.lit(2.0), -F.col("age_d").cast("double") / 7.0)
    weighted = daily.select(
        "event_type",
        F.floor(w * F.col("s").cast("double")).cast("bigint").alias("ws_e4"),
        F.floor(w * F.col("c").cast("double") * 1000000)
        .cast("bigint")
        .alias("wc_e6"),
    )
    return weighted.groupBy("event_type").agg(
        F.sum("ws_e4").cast("bigint").alias("decayed_sum_e4"),
        F.sum("wc_e6").cast("bigint").alias("decayed_count_e6"),
        F.floor(
            F.sum("ws_e4").cast("double")
            / (F.sum("wc_e6").cast("double") / 1000000)
        )
        .cast("bigint")
        .alias("decay_mean_e4"),
    )


@query(
    "events_conversion_lag",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
        FROM events GROUP BY user_id
    ), lags AS (
        SELECT CAST(epoch_us(p_ts) - epoch_us(s_ts) AS BIGINT) // 3600000000
                   AS lag_h
        FROM firsts
        WHERE s_ts IS NOT NULL AND p_ts IS NOT NULL AND p_ts > s_ts
    ), atoms AS (
        SELECT lag_h, CAST(COUNT(*) AS BIGINT) AS c FROM lags GROUP BY lag_h
    ), ranked AS (
        SELECT lag_h, c,
               CAST(SUM(c) OVER (ORDER BY lag_h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM atoms
    )
    SELECT CAST(d.dec AS BIGINT) AS decile,
           CAST(MIN(CASE WHEN cum * 10 >= d.dec * n THEN lag_h END)
                AS BIGINT) AS lag_h,
           CAST(MAX(n) AS BIGINT) AS n_converters
    FROM ranked, (SELECT unnest(range(1, 11)) AS dec) d
    GROUP BY d.dec
    """,
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase lag deciles (round 5 batch 21): the
    DISTRIBUTION of how long conversion takes — "half convert within
    N hours, the slowest decile takes M" — which events_funnel's
    conversion COUNT can't say and a mean lag actively misstates
    (conversion lags are heavy-tailed). The attribution-window and
    nurture-campaign timing decision reads exactly this table.

    Discrete deciles via agg_percentile_disc's integer
    cross-multiplication (cum·10 ≥ dec·n — actual hour atoms, no
    interpolation) over the per-user first-signup/first-purchase lag
    in truncated integer hours; the decile spine is a 10-row unnest
    cross join, so all ten quantiles read ONE cumulative pass.

    Scale: per-user firsts = one conditional-min agg; everything
    after runs on |distinct lag hours| atoms."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "s_ts"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "p_ts"
        ),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    lags = firsts.filter(
        F.col("s_ts").isNotNull()
        & F.col("p_ts").isNotNull()
        & (F.col("p_ts") > F.col("s_ts"))
    ).select(
        F.floor((us("p_ts") - us("s_ts")) / 3600000000).cast("bigint").alias("lag_h")
    )
    atoms = lags.groupBy("lag_h").agg(F.count("*").cast("bigint").alias("c"))
    wcum = Window.orderBy("lag_h").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    ranked = atoms.select(
        "lag_h",
        F.sum("c").over(wcum).cast("bigint").alias("cum"),
        F.sum("c").over(wall).cast("bigint").alias("n"),
    )
    spine = ranked.crossJoin(
        F.broadcast(spark.range(1, 11).select(F.col("id").alias("dec")))
    )
    return spine.groupBy(F.col("dec").cast("bigint").alias("decile")).agg(
        F.min(
            F.when(F.col("cum") * 10 >= F.col("dec") * F.col("n"), F.col("lag_h"))
        )
        .cast("bigint")
        .alias("lag_h"),
        F.max("n").cast("bigint").alias("n_converters"),
    )


@query(
    "ts_max_drawdown",
    """
    WITH cum AS (
        SELECT event_type, ts, event_id,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)
                        * CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END)
                    OVER w AS BIGINT) AS c
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), dd AS (
        SELECT event_type, c,
               CAST(MAX(c) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS peak
        FROM cum
    )
    SELECT event_type,
           CAST(MAX(peak) AS BIGINT) AS max_peak_e2,
           CAST(MAX(peak - c) AS BIGINT) AS max_drawdown_e2,
           CAST(MAX(CASE WHEN peak > 0 THEN
                    CAST(FLOOR(CAST(peak - c AS DOUBLE) * 10000 / peak)
                         AS BIGINT) ELSE 0 END) AS BIGINT)
               AS max_drawdown_pct_e4
    FROM dd GROUP BY event_type
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series (round 5 batch 22): the largest
    peak-to-trough decline of the running balance — THE downside-risk
    number for any cumulative series (P&L, token budget, inventory),
    answering "how far under its own high-water mark did this ever
    fall?", which no variance statistic captures (volatility is
    symmetric; drawdown is the asymmetric ruin measure). The signed
    flow is synthesized deterministically (every 3rd event a debit)
    so the balance actually goes down.

    Two stacked windows on ONE (series, time) exchange — running sum,
    then running max of it (Catalyst coalesces same-spec windows) —
    and drawdown = peak − balance in exact integer cents; only the
    percentage divides, floored per row BEFORE the max (max of
    floors, deterministic). The relative drawdown guards peak ≤ 0.

    Scale: the classic prefix-scan pair; at 100 TB the same two-pass
    bucket decomposition as events_concurrency_sweep's prefix sum."""
    ev = load(spark, sf_dir, "events")
    signed = F.floor(F.col("value") * 100).cast("bigint") * F.when(
        F.col("event_id") % 3 == 0, -1
    ).otherwise(1)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.sum(signed).over(w).cast("bigint").alias("c"),
    )
    dd = cum.select(
        "event_type",
        "c",
        F.max("c").over(w).cast("bigint").alias("peak"),
    )
    rel = F.when(
        F.col("peak") > 0,
        F.floor(
            (F.col("peak") - F.col("c")).cast("double")
            * 10000
            / F.col("peak")
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    return dd.groupBy("event_type").agg(
        F.max("peak").cast("bigint").alias("max_peak_e2"),
        F.max(F.col("peak") - F.col("c")).cast("bigint").alias(
            "max_drawdown_e2"
        ),
        F.max(rel).cast("bigint").alias("max_drawdown_pct_e4"),
    )


@query(
    "events_new_vs_returning",
    """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d
        FROM events GROUP BY user_id
    )
    SELECT CAST(e.ts AS DATE) AS d,
           CAST(COUNT(DISTINCT CASE WHEN CAST(e.ts AS DATE) = f.first_d
                                    THEN e.user_id END) AS BIGINT)
               AS new_users,
           CAST(COUNT(DISTINCT CASE WHEN CAST(e.ts AS DATE) > f.first_d
                                    THEN e.user_id END) AS BIGINT)
               AS returning_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e JOIN firsts f USING (user_id)
    GROUP BY 1
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New vs returning users per day (round 5 batch 22): every
    active day's user count split by whether that day is the user's
    FIRST — the acquisition-vs-retention decomposition of a DAU curve
    ("growth" that is all new users with no returners is churn in
    disguise; events_active_users_rolling gives the totals, this
    explains their composition, events_retention tracks the cohorts
    those new users become).

    First-seen attribution is one MIN(date) per user (order-free,
    merge-safe — text_ngram_novelty's discipline on the user axis)
    broadcast back onto the detail; the day aggregation uses
    conditional distincts sharing one exchange (the
    agg_count_if_distinct rewrite). Pure integer date arithmetic.

    Scale: the firsts table is |users|-sized and is the persisted
    artifact — a new day's split needs only ITS events probed against
    it; new users are exactly the anti-join misses, which is how the
    incremental form maintains the table."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d")
    )
    j = ev.join(firsts, "user_id")
    d = F.col("ts").cast("date")
    return j.groupBy(d.alias("d")).agg(
        F.countDistinct(
            F.when(d == F.col("first_d"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("new_users"),
        F.countDistinct(
            F.when(d > F.col("first_d"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("returning_users"),
        F.count("*").cast("bigint").alias("n_events"),
    )


@query(
    "ts_control_chart_imr",
    """
    WITH tape AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               abs(CAST(FLOOR(value * 10000) AS BIGINT)
                   - lag(CAST(FLOOR(value * 10000) AS BIGINT)) OVER w)
                   AS mr
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), limits AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(mr) AS BIGINT) AS smr,
               CAST(COUNT(mr) AS BIGINT) AS nmr
        FROM tape GROUP BY event_type
    )
    SELECT t.event_id, t.event_type, t.v AS v_e4,
           CAST(FLOOR(CAST(l.sv AS DOUBLE) / l.n) AS BIGINT) AS center_e4,
           CAST(FLOOR(CAST(l.sv AS DOUBLE) / l.n
                      + 2.66 * CAST(l.smr AS DOUBLE) / l.nmr) AS BIGINT)
               AS ucl_e4,
           CAST(FLOOR(CAST(l.sv AS DOUBLE) / l.n
                      - 2.66 * CAST(l.smr AS DOUBLE) / l.nmr) AS BIGINT)
               AS lcl_e4,
           CAST(t.v AS DOUBLE) >
               CAST(l.sv AS DOUBLE) / l.n
               + 2.66 * CAST(l.smr AS DOUBLE) / l.nmr
           OR CAST(t.v AS DOUBLE) <
               CAST(l.sv AS DOUBLE) / l.n
               - 2.66 * CAST(l.smr AS DOUBLE) / l.nmr AS out_of_control
    FROM tape t JOIN limits l USING (event_type)
    """,
)
def ts_control_chart_imr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individuals/moving-range (I-MR) control chart (round 5 batch
    26): Shewhart SPC for per-observation data — center line x̄,
    control limits x̄ ± 2.66·M̄R where M̄R is the mean absolute
    consecutive difference (2.66 = 3/d₂ for n=2, the constant that
    turns moving range into a σ estimate) — the manufacturing-grade
    "is this process stable?" gate, and the right chart when there is
    no natural subgroup. Differs from ts_zscore_anomaly in KIND:
    z-scores use a LOCAL trailing window (adaptive, follows drift);
    control limits are GLOBAL process constants (fixed, so drift gets
    FLAGGED rather than absorbed) — SPC's entire point.

    Moving ranges come off one (series, time) lag window (exact
    integer |Δ|); (n, Σv, ΣMR) are exact bigints; limits and the
    breach flag evaluate in shared double expressions, limits floored
    e4, the flag comparing unfloored doubles identically on both
    engines.

    Scale: one window + one tiny limits agg joined back broadcast —
    the ts_outlier_mad shape with process-constant semantics."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    tape = ev.select(
        "event_id",
        "event_type",
        v.alias("v"),
        F.abs(v - F.lag(v).over(w)).alias("mr"),
    )
    limits = tape.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum("mr").cast("bigint").alias("smr"),
        F.count("mr").cast("bigint").alias("nmr"),
    )
    j = tape.join(F.broadcast(limits), "event_type")
    center = F.col("sv").cast("double") / F.col("n")
    spread = 2.66 * F.col("smr").cast("double") / F.col("nmr")
    return j.select(
        "event_id",
        "event_type",
        F.col("v").alias("v_e4"),
        F.floor(center).cast("bigint").alias("center_e4"),
        F.floor(center + spread).cast("bigint").alias("ucl_e4"),
        F.floor(center - spread).cast("bigint").alias("lcl_e4"),
        (
            (F.col("v").cast("double") > center + spread)
            | (F.col("v").cast("double") < center - spread)
        ).alias("out_of_control"),
    )


@query(
    "events_behavior_entropy_rate",
    """
    WITH tape AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), trans AS (
        SELECT prev_type AS a, event_type AS b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM tape WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), rowtot AS (
        SELECT a, b, n_ab,
               CAST(SUM(n_ab) OVER (PARTITION BY a) AS BIGINT) AS n_a,
               CAST(SUM(n_ab) OVER () AS BIGINT) AS n
        FROM trans
    ), terms AS (
        SELECT a, b, n_ab,
               CAST(FLOOR(
                   -(CAST(n_a AS DOUBLE) / n)
                   * (CAST(n_ab AS DOUBLE) / n_a)
                   * ln(CAST(n_ab AS DOUBLE) / n_a)
                   * 1000000000) AS BIGINT) AS term_e9
        FROM rowtot
    )
    SELECT a AS from_type, b AS to_type, n_ab, term_e9,
           CAST(SUM(term_e9) OVER () AS BIGINT) AS entropy_rate_e9
    FROM terms
    """,
)
def events_behavior_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov entropy rate of behavior (round 5 batch 26): H = −Σ_a
    π_a Σ_b p(b|a) ln p(b|a) over the empirical transition matrix —
    ONE number for how PREDICTABLE the event stream is (0 = fully
    deterministic next-action, ln|types| = uniformly random), the
    summary events_markov_transitions' full matrix rolls up to:
    near-zero per-user entropy rates are the strongest bot signal
    this engine computes (complementing burstiness's timing axis with
    the SEQUENCE axis), and corpus-level drops flag templated
    traffic. Per-transition terms ride along for the which-state
    diagnosis.

    π comes from empirical state occupancy (row totals / grand
    total — the stationary weighting of the observed chain);
    each (a,b) term is ONE double expression floored e9, totals
    order-free bigint — the KL/chi-square discipline on the
    |types|² matrix.

    Scale: one lag window + |types|² aggregation; everything after
    is matrix-sized."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tape = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = tape.groupBy(
        F.col("prev_type").alias("a"), F.col("event_type").alias("b")
    ).agg(F.count("*").cast("bigint").alias("n_ab"))
    rowtot = trans.select(
        "a",
        "b",
        "n_ab",
        F.sum("n_ab").over(Window.partitionBy("a")).cast("bigint").alias("n_a"),
        F.sum("n_ab").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    term = F.floor(
        -(d("n_a") / F.col("n"))
        * (d("n_ab") / F.col("n_a"))
        * F.log(d("n_ab") / F.col("n_a"))
        * 1000000000
    ).cast("bigint")
    terms = rowtot.select(
        F.col("a").alias("from_type"),
        F.col("b").alias("to_type"),
        "n_ab",
        term.alias("term_e9"),
    )
    return terms.withColumn(
        "entropy_rate_e9",
        F.sum("term_e9").over(Window.partitionBy()).cast("bigint"),
    )


@query(
    "ts_seasonality_strength",
    """
    WITH cells AS (
        SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hod,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), resid AS (
        SELECT CAST(FLOOR(e.value * 10000) AS BIGINT) AS v,
               CAST(FLOOR(CAST(CAST(FLOOR(e.value * 10000) AS BIGINT)
                               AS DOUBLE)
                          - CAST(c.s AS DOUBLE) / c.n) AS BIGINT) AS r
        FROM events e
        JOIN cells c ON dayofweek(e.ts) = c.dow
                    AND CAST(hour(e.ts) AS BIGINT) = c.hod
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(v * v) AS BIGINT) AS svv,
               CAST(SUM(r) AS BIGINT) AS sr,
               CAST(SUM(r * r) AS BIGINT) AS srr
        FROM resid
    )
    SELECT n,
           CAST(FLOOR(GREATEST(0.0,
               1.0 - (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / n)
                     / (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n))
               * 1000000) AS BIGINT) AS strength_e6
    FROM stats
    """,
)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength (round 5 batch 28): the fraction of total
    variance the (dow × hour) seasonal component explains —
    1 − Var(residual)/Var(raw), the Hyndman STL-strength measure in
    its profile form — which turns ts_seasonality_profile (WHERE the
    cycle is) and ts_seasonal_adjust (removing it) into ONE
    decision number: near 0 ⇒ don't bother deseasonalizing, near 1 ⇒
    the rhythm IS the series (and ts_anomaly_pipeline's residual gate
    is the right anomaly detector). Clamped at 0 for the degenerate
    negative case.

    Both variances come from the SAME residual pass (raw values and
    floored residuals side by side), all five sufficient statistics
    exact bigints, ONE double formula — the agg_corr_exact layering
    applied to the seasonal decomposition.

    Scale: 168-cell broadcast + one scan + a 5-scalar fold; this is
    the per-series health metric a forecasting platform computes for
    every one of millions of series nightly."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(
        F.sum(v).cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    detail = ev.select(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
        v.alias("v"),
    )
    j = detail.join(F.broadcast(cells), ["dow", "hod"])
    r = F.floor(
        F.col("v").cast("double") - F.col("s").cast("double") / F.col("n")
    ).cast("bigint")
    resid = j.select("v", r.alias("r"))
    stats = resid.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("svv"),
        F.sum("r").cast("bigint").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("srr"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    strength = 1.0 - (d("srr") - d("sr") * d("sr") / F.col("n")) / (
        d("svv") - d("sv") * d("sv") / F.col("n")
    )
    return stats.select(
        "n",
        F.floor(F.greatest(F.lit(0.0), strength) * 1000000)
        .cast("bigint")
        .alias("strength_e6"),
    )


@query(
    "events_funnel_windowed",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
        FROM events GROUP BY user_id
    ), conv AS (
        SELECT f.user_id, f.s_ts,
               MIN(e.ts) AS conv_ts
        FROM firsts f
        JOIN events e
          ON e.user_id = f.user_id
         AND e.event_type = 'purchase'
         AND e.ts > f.s_ts
         AND epoch_us(e.ts) - epoch_us(f.s_ts) <= 86400000000
        WHERE f.s_ts IS NOT NULL
        GROUP BY f.user_id, f.s_ts
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
            WHERE s_ts IS NOT NULL) AS n_signups,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM conv) AS n_converted_24h,
           CAST(FLOOR(
               (SELECT CAST(COUNT(*) AS DOUBLE) FROM conv)
               / (SELECT COUNT(*) FROM firsts WHERE s_ts IS NOT NULL)
               * 10000) AS BIGINT) AS conv_rate_e4
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel conversion (round 5 batch 29): a signup
    counts as converted only if the first subsequent purchase lands
    WITHIN 24 hours — the windowed semantics growth teams actually
    report ("D1 conversion"), which events_funnel's unbounded count
    inflates (a purchase a month later is not activation) and
    events_conversion_lag's decile table summarizes from the other
    side. Together the three answer: did they convert (bounded), how
    many ever (unbounded), and how fast (distribution).

    First-signup per user (conditional MIN, order-free), one
    window-bounded join to the purchase stream (the predicate is an
    integer-µs comparison), and three exact counts folded into one
    row with a single floored rate.

    Scale: the join is keyed on user_id with the time bound as a
    residual predicate — one exchange; the firsts table is the same
    persisted artifact events_conversion_lag uses."""
    ev = load(spark, sf_dir, "events")
    firsts = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("s_ts")
        )
        .filter(F.col("s_ts").isNotNull())
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        firsts.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (us("p_ts") - us("s_ts") <= 86400000000),
        )
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("conv_ts"))
    )
    n_signups = firsts.agg(F.count("*").cast("bigint").alias("n_signups"))
    n_conv = conv.agg(F.count("*").cast("bigint").alias("n_converted_24h"))
    out = n_signups.crossJoin(F.broadcast(n_conv))
    return out.select(
        "n_signups",
        "n_converted_24h",
        F.floor(
            F.col("n_converted_24h").cast("double")
            / F.col("n_signups")
            * 10000
        )
        .cast("bigint")
        .alias("conv_rate_e4"),
    )


@query(
    "ts_rolling_corr",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS x,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ), rolled AS (
        SELECT h, x, y,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(x) OVER w AS BIGINT) AS sx,
               CAST(SUM(y) OVER w AS BIGINT) AS sy,
               CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
               CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
               CAST(SUM(y * y) OVER w AS BIGINT) AS syy
        FROM hourly
        WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT h, n,
           CASE WHEN n >= 12
                 AND (CAST(n AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * sx) > 0
                 AND (CAST(n AS DOUBLE) * syy
                      - CAST(sy AS DOUBLE) * sy) > 0 THEN
               CAST(FLOOR(
                   (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / sqrt((CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx)
                          * (CAST(n AS DOUBLE) * syy
                             - CAST(sy AS DOUBLE) * sy))
                   * 1000000) AS BIGINT)
           END AS corr_e6
    FROM rolled
    """,
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling correlation between two series (round 5 batch 30):
    trailing-24-hour Pearson between hourly click and purchase
    volumes — the metric-COUPLING monitor ("did purchases stop
    following clicks?") behind funnel-health alerts and pairs-style
    coupling checks, which the static agg_corr_exact can't see
    drifting and per-series anomaly flags don't relate. Cold-start
    rows (<12 hours) and degenerate windows (zero variance in either
    leg — constant series) emit NULL rather than a fabricated number.

    agg_corr_exact's discipline made SLIDING: the five sufficient
    statistics are exact bigint WINDOW sums over the hourly pair
    table, merged per row into one guarded double formula. The pair
    table comes from one conditional-count agg (hours × 2 metrics in
    one pass), so the unpartitioned window runs over calendar-sized
    rows (the histogram reduction).

    Scale: at 100 TB the hourly pair table is the persisted rollup;
    the rolling window is bucket-decomposable like every prefix
    scan."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("x"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("y"),
    )
    w = Window.orderBy("h").rowsBetween(-23, 0)
    rolled = hourly.select(
        "h",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    varx = d("n") * d("sxx") - d("sx") * d("sx")
    vary = d("n") * d("syy") - d("sy") * d("sy")
    corr = (d("n") * d("sxy") - d("sx") * d("sy")) / F.sqrt(varx * vary)
    return rolled.select(
        "h",
        "n",
        F.when(
            (F.col("n") >= 12) & (varx > 0) & (vary > 0),
            F.floor(corr * 1000000).cast("bigint"),
        ).alias("corr_e6"),
    )


@query(
    "events_audience_overlap",
    """
    WITH aud AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM aud GROUP BY event_type
    ), inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM aud a JOIN aud b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_common,
           sa.n AS n_a, sb.n AS n_b,
           CAST(FLOOR(CAST(i.n_common AS DOUBLE) * 10000
                      / (sa.n + sb.n - i.n_common)) AS BIGINT)
               AS jaccard_e4,
           CAST(FLOOR(CAST(i.n_common AS DOUBLE) * 10000
                      / LEAST(sa.n, sb.n)) AS BIGINT) AS containment_e4
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix between event types (round 5 batch
    30): for every pair of behaviors, the users doing BOTH — as raw
    intersection, Jaccard, and containment (overlap over the SMALLER
    audience — the right number when one behavior is rare:
    purchase ⊂ click reads ~100% containment at tiny Jaccard). The
    segmentation readout behind "should these audiences share a
    campaign?" and the behavioral cousin of graph_common_neighbors
    (same program: distinct bipartite membership → key-bucketed pair
    intersection → normalized scores).

    Intersections come from a user-keyed self-join of the DISTINCT
    (type, user) table — work is Σ_user (types-per-user)², bounded by
    the type alphabet, never users²; sizes broadcast back. All counts
    exact bigint; Jaccard and containment one floored division each.

    Scale: at a 10⁶-type alphabet the hot-user cap (count-certified,
    the dedup_near guard) bounds the per-user pair expansion; here
    the alphabet is 5."""
    ev = load(spark, sf_dir, "events")
    aud = ev.select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    a = aud.select(F.col("event_type").alias("type_a"), "user_id")
    b = aud.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    j = inter.join(F.broadcast(sa), "type_a").join(F.broadcast(sb), "type_b")
    return j.select(
        "type_a",
        "type_b",
        "n_common",
        "n_a",
        "n_b",
        F.floor(
            F.col("n_common").cast("double")
            * 10000
            / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .cast("bigint")
        .alias("jaccard_e4"),
        F.floor(
            F.col("n_common").cast("double")
            * 10000
            / F.least(F.col("n_a"), F.col("n_b"))
        )
        .cast("bigint")
        .alias("containment_e4"),
    )


@query(
    "ts_local_peaks",
    """
    WITH tape AS (
        SELECT event_id, event_type, ts,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               lag(CAST(FLOOR(value * 10000) AS BIGINT)) OVER w AS prev_v,
               lead(CAST(FLOOR(value * 10000) AS BIGINT)) OVER w AS next_v
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_id, event_type, v AS v_e4,
           CAST(v - GREATEST(prev_v, next_v) AS BIGINT) AS prominence_e4
    FROM tape
    WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
      AND v > prev_v AND v > next_v
      AND v - GREATEST(prev_v, next_v) >= 500000
    """,
)
def ts_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peak detection with a prominence floor (round 5 batch
    31): points strictly above BOTH neighbors by ≥ 50 units — the
    spike-shape extractor feeding event annotation and burst triage,
    complementary to the threshold detectors: z-scores/Hampel flag
    "far from baseline" (a plateau qualifies), a peak is a SHAPE
    (strict local maximum), and the prominence floor separates signal
    spikes from sampling jitter. The 1-neighbor form is the canonical
    lag/lead program; wider plateaus and multi-scale prominence are
    the documented extension via the same tape with k lags.

    Strict integer comparisons on floored values over one
    (series, time) window exchange — edges (no neighbor) are excluded
    rather than padded. Scale: one exchange + sort, narrow filter."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    tape = ev.select(
        "event_id",
        "event_type",
        v.alias("v"),
        F.lag(v).over(w).alias("prev_v"),
        F.lead(v).over(w).alias("next_v"),
    )
    prominence = F.col("v") - F.greatest(F.col("prev_v"), F.col("next_v"))
    return tape.filter(
        F.col("prev_v").isNotNull()
        & F.col("next_v").isNotNull()
        & (F.col("v") > F.col("prev_v"))
        & (F.col("v") > F.col("next_v"))
        & (prominence >= 500000)
    ).select(
        "event_id",
        "event_type",
        F.col("v").alias("v_e4"),
        prominence.cast("bigint").alias("prominence_e4"),
    )


@query(
    "win_rolling_slope",
    """
    WITH seq AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS y,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id) AS BIGINT)
                   AS x
        FROM events
    ), sums AS (
        SELECT event_id, event_type, x,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(x) OVER w AS BIGINT) AS sx,
               CAST(SUM(y) OVER w AS BIGINT) AS sy,
               CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
               CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
        FROM seq
        WINDOW w AS (PARTITION BY event_type ORDER BY x
                     ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, n,
           CASE WHEN n >= 2 THEN
               CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE)
                          * 1000000) AS BIGINT)
           END AS slope_e6
    FROM sums
    """,
)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing OLS trend per series (round 6): the least-squares
    slope of the last 12 observations at every row — what
    agg_regr_trend (one global fit per group) becomes as a WINDOW, and
    the statistically honest upgrade of 'value minus lag' trend
    flags: a 12-point fit smooths single-tick noise yet turns in 12
    rows, the monitoring sweet spot.

    Everything until the final division is EXACT bigint window
    arithmetic: x is the per-series row number, y the floored-e4
    value, and the five framed sums (n, Σx, Σy, Σxy, Σx²) are integer
    ROWS-frame sums — so the regression numerator n·Σxy − Σx·Σy and
    denominator n·Σx² − (Σx)² are exact integers in both engines and
    ONE double division (then floor-e6) decides the output.  The
    denominator is positive whenever n ≥ 2 (x values are distinct
    consecutive integers); n = 1 rows emit NULL (undefined slope).

    Scale: one keyed exchange + sort, O(1) per-row frame state — the
    same discipline as win_running_sum; Σxy fits bigint while
    series-position × value-e4 < 2⁶³ (position ≤ ~1e12 at e4 values —
    beyond any per-key series; the day-bucketed re-key applies long
    before)."""
    ev = load(spark, sf_dir, "events")
    w_num = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000).cast("bigint").alias("y"),
        F.row_number().over(w_num).cast("bigint").alias("x"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-11, 0)
    )
    sums = seq.select(
        "event_id",
        "event_type",
        "x",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return sums.select(
        "event_id",
        "event_type",
        "n",
        F.when(F.col("n") >= 2, F.floor(num / den * 1000000).cast("bigint"))
        .alias("slope_e6"),
    )


@query(
    "ts_period_over_period",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT cur.event_type, cur.day, cur.n,
           prev.n AS n_prev_week,
           CASE WHEN prev.n > 0
                THEN CAST(FLOOR(cur.n * 10000.0 / prev.n) AS BIGINT)
           END AS wow_e4
    FROM daily cur
    LEFT JOIN daily prev
      ON prev.event_type = cur.event_type
     AND prev.day = cur.day - INTERVAL 7 DAY
    """,
)
def ts_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per series (round 6): each day's event
    count against the SAME WEEKDAY one week earlier — the most-read
    BI number there is, and one that a row-LAG gets silently wrong on
    sparse series (lag(7) reaches 7 ROWS back, not 7 DAYS back, so a
    missing day shifts the comparison off its weekday).  The correct
    form is a calendar self-join on (series, day − 7), LEFT so the
    first week still reports with a NULL baseline; growth is exact
    bigint counts entering double once, floored e4.

    Scale: the self-join runs on the DAILY AGGREGATE (|series| ×
    |days| rows, tiny vs the fact), hash on the same (type, day) key
    the rollup already produced; the fact table shuffles exactly once
    for the aggregation."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    cur = daily.alias("cur")
    prev = daily.select(
        F.col("event_type").alias("p_type"),
        F.col("day").alias("p_day"),
        F.col("n").alias("n_prev_week"),
    )
    joined = cur.join(
        prev,
        (F.col("p_type") == F.col("cur.event_type"))
        & (F.col("p_day") == F.date_sub(F.col("cur.day"), 7)),
        "left",
    )
    return joined.select(
        F.col("cur.event_type").alias("event_type"),
        F.col("cur.day").alias("day"),
        F.col("cur.n").alias("n"),
        "n_prev_week",
        F.when(
            F.col("n_prev_week") > 0,
            F.floor(F.col("cur.n") * 10000.0 / F.col("n_prev_week")).cast(
                "bigint"
            ),
        ).alias("wow_e4"),
    )


@query(
    "events_cohort_ltv",
    """
    WITH cohorts AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), weekly_rev AS (
        SELECT e.user_id, c.cohort_week,
               CAST(datediff('day', CAST(c.cohort_week AS DATE),
                             CAST(date_trunc('week', e.ts) AS DATE)) / 7
                    AS BIGINT) AS week_offset,
               CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM events e JOIN cohorts c USING (user_id)
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2, 3
    ), cells AS (
        SELECT cohort_week, week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
               CAST(SUM(rev_cents) AS BIGINT) AS rev_cents
        FROM weekly_rev GROUP BY 1, 2
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week, week_offset,
           n_buyers, rev_cents,
           CAST(SUM(rev_cents) OVER (PARTITION BY cohort_week
                                     ORDER BY week_offset
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW)
                AS BIGINT) AS cum_rev_cents
    FROM cells
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE curve (round 6): events_retention's
    triangle with the VALUE dimension — per (first-active-week cohort,
    week offset): buyers, purchase revenue, and the cohort's running
    cumulative revenue, i.e. the LTV-by-age curve payback models read
    (which week does cumulative revenue cross acquisition cost?).

    Money stays exact: cents = ROUND(value·100) bigint at the row,
    summed twice (user-week, then cell) and then a running window —
    every stage integer, order-free.  The cumulative window runs per
    cohort over week offsets (bounded by calendar weeks), never raw
    events.

    Scale: the only corpus-sized shuffle is the (user, week) revenue
    rollup; the cohort MIN re-joins on the same user_id layout; cells
    are |cohorts|×|offsets| — dashboard-sized."""
    ev = load(spark, sf_dir, "events")
    week = F.date_trunc("week", "ts")
    cohorts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    purchases = ev.filter(F.col("event_type") == "purchase")
    weekly_rev = (
        purchases.join(cohorts, "user_id")
        .groupBy(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    week.cast("date"), F.col("cohort_week").cast("date")
                )
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    cells = weekly_rev.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_buyers"),
        F.sum("rev_cents").cast("bigint").alias("rev_cents"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        "week_offset",
        "n_buyers",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
    )


@query(
    "ts_ljung_box",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS v,
               lag(CAST(FLOOR(value * 100) AS BIGINT), 1) OVER w AS y1,
               lag(CAST(FLOOR(value * 100) AS BIGINT), 2) OVER w AS y2,
               lag(CAST(FLOOR(value * 100) AS BIGINT), 3) OVER w AS y3
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), pairs AS (
        SELECT event_type, CAST(1 AS BIGINT) AS lag_k, v AS x, y1 AS y
        FROM base WHERE y1 IS NOT NULL
        UNION ALL
        SELECT event_type, 2, v, y2 FROM base WHERE y2 IS NOT NULL
        UNION ALL
        SELECT event_type, 3, v, y3 FROM base WHERE y3 IS NOT NULL
    ), stats AS (
        SELECT event_type, lag_k,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1, 2
    ), terms AS (
        SELECT event_type, lag_k, n + lag_k AS n_total,
               CAST(FLOOR(
                   ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                   * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                   / n * 1000000000) AS BIGINT) AS term_e9
        FROM stats
    )
    SELECT event_type,
           CAST(MAX(n_total) AS BIGINT) AS n_obs,
           CAST(SUM(term_e9) AS BIGINT) AS sum_terms_e9,
           CAST(FLOOR(CAST(MAX(n_total) AS DOUBLE)
                      * (MAX(n_total) + 2)
                      * CAST(SUM(term_e9) AS DOUBLE)
                      / 1000000000.0 * 1000) AS BIGINT) AS q_e3
    FROM terms GROUP BY event_type
    """,
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau statistic, lags 1–3, per series (round
    6): ts_acf answers 'how correlated is lag k'; this answers the
    question that gates forecasting-residual QA — 'are these lags
    JOINTLY white noise?'  Q = n(n+2) Σ ρ̂ₖ²/(n−k), compared to χ²(m)
    downstream; residuals that fail it mean the model left structure
    on the table (ts_backtest_snaive's residuals are the intended
    input at 100 TB).

    Parity: ρ̂ₖ comes from the same exact-bigint lag tape as ts_acf;
    each lag's ρ̂ₖ²/(n−k) is ONE double chain floored-once to e9, so
    the cross-lag sum is an EXACT bigint (3 rows, any order), and the
    final n(n+2)·Σ/1e9 scaling is one more deterministic chain —
    the floored-once-into-exact-sum house discipline, applied at the
    statistic level.  (The e9 floor makes this a deterministic SPEC
    of Q, biased < 3e-9 absolute — documented, irrelevant against
    χ² thresholds.)

    Scale: one keyed window exchange for the lag tape (shared with
    ts_acf's), then |series|×3 rows of statistics."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = ev.select(
        "event_type",
        v.alias("v"),
        F.lag(v, 1).over(w).alias("y1"),
        F.lag(v, 2).over(w).alias("y2"),
        F.lag(v, 3).over(w).alias("y3"),
    )
    parts = []
    for k in (1, 2, 3):
        parts.append(
            base.filter(F.col(f"y{k}").isNotNull()).select(
                "event_type",
                F.lit(k).cast("bigint").alias("lag_k"),
                F.col("v").alias("x"),
                F.col(f"y{k}").alias("y"),
            )
        )
    pairs = parts[0].unionAll(parts[1]).unionAll(parts[2])
    stats = pairs.groupBy("event_type", "lag_k").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rho = (d("n") * d("sxy") - d("sx") * d("sy")) / F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    terms = stats.select(
        "event_type",
        (F.col("n") + F.col("lag_k")).alias("n_total"),
        F.floor(rho * rho / F.col("n") * 1000000000)
        .cast("bigint")
        .alias("term_e9"),
    )
    return terms.groupBy("event_type").agg(
        F.max("n_total").cast("bigint").alias("n_obs"),
        F.sum("term_e9").cast("bigint").alias("sum_terms_e9"),
        F.floor(
            F.max("n_total").cast("double")
            * (F.max("n_total") + 2)
            * F.sum("term_e9").cast("double")
            / 1000000000.0
            * 1000
        )
        .cast("bigint")
        .alias("q_e3"),
    )


@query(
    "events_error_budget_burn",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
                   AS n_err
        FROM events GROUP BY 1
    ), overall AS (
        SELECT CAST(SUM(n_total) AS BIGINT) AS g_total,
               CAST(SUM(n_err) AS BIGINT) AS g_err
        FROM hourly
    )
    SELECT CAST(h.hour AS TIMESTAMP) AS hour, h.n_total, h.n_err,
           CAST(FLOOR(CAST(h.n_err AS DOUBLE) / h.n_total * 1000000)
                AS BIGINT) AS err_rate_e6,
           CAST(FLOOR((CAST(h.n_err AS DOUBLE) / h.n_total)
                      / (CAST(o.g_err AS DOUBLE) / o.g_total)
                      * 1000) AS BIGINT) AS burn_x1000,
           (CAST(h.n_err AS DOUBLE) / h.n_total)
               > 2.0 * (CAST(o.g_err AS DOUBLE) / o.g_total)
               AS is_fast_burn
    FROM hourly h CROSS JOIN overall o
    """,
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget BURN RATE per hour (round 6) — the SRE
    alerting primitive: each hour's error rate expressed as a multiple
    of the service's overall baseline rate (burn×1000, exact-count
    derived), with the 2× fast-burn flag that pages before the budget
    is gone.  Plain threshold alerts fire on absolute rates and
    mis-page quiet services; burn-rate alerts normalize by the
    service's own budget — the Google SRE workbook's multiwindow
    pattern, here at the one-window core.

    Exactness: hourly and overall (errors, totals) are exact bigint
    counts; rate, burn, and the flag are single double expressions in
    the oracle's literal order (flag compares rates directly — no
    rounding in the predicate, so both engines branch identically).

    Scale: one partial agg to |hours| rows; the overall baseline is a
    1-row broadcast cross join (lazy, no driver action); incremental:
    hourly counts merge per ingest batch, the baseline re-derives
    from the merged table."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("bigint")
        .alias("n_err"),
    )
    overall = hourly.agg(
        F.sum("n_total").cast("bigint").alias("g_total"),
        F.sum("n_err").cast("bigint").alias("g_err"),
    )
    joined = hourly.crossJoin(F.broadcast(overall))
    h_rate = F.col("n_err").cast("double") / F.col("n_total")
    g_rate = F.col("g_err").cast("double") / F.col("g_total")
    return joined.select(
        F.col("hour").cast("timestamp").alias("hour"),
        "n_total",
        "n_err",
        F.floor(h_rate * 1000000).cast("bigint").alias("err_rate_e6"),
        F.floor(h_rate / g_rate * 1000).cast("bigint").alias("burn_x1000"),
        (h_rate > 2.0 * g_rate).alias("is_fast_burn"),
    )


@query(
    "ts_interrupted_series",
    """
    WITH seq AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                    THEN 'pre' ELSE 'post' END AS phase,
               CAST(FLOOR(value * 10000) AS BIGINT) AS y,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type,
                       CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                            THEN 'pre' ELSE 'post' END
                   ORDER BY ts, event_id) AS BIGINT) AS x
        FROM events
    ), fits AS (
        SELECT event_type, phase,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM seq GROUP BY 1, 2
    ), params AS (
        SELECT event_type, phase, n,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   AS slope,
               (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * sx) / n AS intercept
        FROM fits
    )
    SELECT pre.event_type,
           pre.n AS n_pre, post.n AS n_post,
           CAST(FLOOR(pre.slope * 1000000) AS BIGINT) AS slope_pre_e6,
           CAST(FLOOR(post.slope * 1000000) AS BIGINT) AS slope_post_e6,
           CAST(FLOOR((post.slope - pre.slope) * 1000000) AS BIGINT)
               AS trend_change_e6,
           CAST(FLOOR((post.intercept
                       - (pre.intercept + pre.slope * (pre.n + 1)))
                      * 10) AS BIGINT) AS level_change_e5
    FROM params pre JOIN params post
      ON pre.event_type = post.event_type
     AND pre.phase = 'pre' AND post.phase = 'post'
    """,
)
def ts_interrupted_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series analysis (round 6): the
    pre/post-intervention comparison behind 'did the Jan-15 release
    change the trend?' — segmented OLS on each side of the cutover,
    reporting the TREND change (slope delta) and the LEVEL change
    (post intercept vs the pre fit's projection one step past its own
    segment).  The causal-inference rung events_ab_cuped can't cover
    when there is no concurrent control — ITS is the standard
    observational fallback.

    win_rolling_slope's exact-integer OLS discipline, applied per
    (series, phase): the five regression sums are exact bigints, and
    slope / intercept / deltas are double chains in the oracle's
    literal order (the slope expression is repeated inline for the
    intercept exactly as the oracle spells it — identical IEEE64
    sequences), floored at the end.

    Scale: one keyed window per (series, phase) for the row index,
    then |series|×2 fit rows self-joined — dashboard-sized."""
    ev = load(spark, sf_dir, "events")
    cutover = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    phase = F.when(F.col("ts") < cutover, "pre").otherwise("post")
    w_num = Window.partitionBy("event_type", "phase").orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        "event_type",
        phase.alias("phase"),
        F.floor(F.col("value") * 10000).cast("bigint").alias("y"),
        "ts",
        "event_id",
    ).select(
        "event_type",
        "phase",
        "y",
        F.row_number().over(w_num).cast("bigint").alias("x"),
    )
    fits = seq.groupBy("event_type", "phase").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    intercept = (
        d("sy")
        - (d("n") * d("sxy") - d("sx") * d("sy"))
        / (d("n") * d("sxx") - d("sx") * d("sx"))
        * d("sx")
    ) / d("n")
    params = fits.select(
        "event_type",
        "phase",
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )
    pre = params.filter(F.col("phase") == "pre").select(
        "event_type",
        F.col("n").alias("n_pre"),
        F.col("slope").alias("slope_pre"),
        F.col("intercept").alias("int_pre"),
    )
    post = params.filter(F.col("phase") == "post").select(
        F.col("event_type").alias("et2"),
        F.col("n").alias("n_post"),
        F.col("slope").alias("slope_post"),
        F.col("intercept").alias("int_post"),
    )
    j = pre.join(post, pre.event_type == post.et2)
    return j.select(
        "event_type",
        "n_pre",
        "n_post",
        F.floor(F.col("slope_pre") * 1000000)
        .cast("bigint")
        .alias("slope_pre_e6"),
        F.floor(F.col("slope_post") * 1000000)
        .cast("bigint")
        .alias("slope_post_e6"),
        F.floor((F.col("slope_post") - F.col("slope_pre")) * 1000000)
        .cast("bigint")
        .alias("trend_change_e6"),
        F.floor(
            (
                F.col("int_post")
                - (F.col("int_pre") + F.col("slope_pre") * (F.col("n_pre") + 1))
            )
            * 10
        )
        .cast("bigint")
        .alias("level_change_e5"),
    )


@query(
    "events_alert_throttle",
    """
    WITH errors AS (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE event_type = 'error'
    ), marked AS (
        SELECT user_id, event_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) > 600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM errors
    ), grouped AS (
        SELECT user_id, event_id, ts, is_new,
               SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS burst_id
        FROM marked
    )
    SELECT user_id, CAST(burst_id AS BIGINT) AS burst_id,
           CAST(MIN(event_id) AS BIGINT) AS alert_event_id,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_suppressed,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
               AS burst_span_us
    FROM grouped GROUP BY user_id, burst_id
    """,
)
def events_alert_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert THROTTLING / dedup (round 6): page once per error BURST,
    not once per error — the ops primitive between raw error events
    and a pager.  An error starts a new burst when >10 min passed
    since the previous error (per user); the burst's FIRST event is
    the alert, the rest are suppressed (counted, with the burst span,
    so the alert carries 'and 47 more over 12 minutes' context).

    Gap-based bursting is a sequential predicate, but the engine's
    sessionize program makes it one window pass: lag → gap flag →
    running-sum burst id → per-burst rollup.  Throttle semantics note:
    gap is measured to the previous ERROR (not the previous alert) —
    the classic sessionize definition; cooldown-to-last-ALERT is the
    stream_stateful keyed-state form (documented, needs per-key state,
    not a frame).  Exact integer µs everywhere.

    Scale: one user-keyed exchange shared by both windows + the
    rollup — the interval_overlap_duration discipline; streaming form
    = stream_pattern_match's four-scalar state shape with a timestamp
    instead of a type."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    errors = ev.select(
        "user_id", "event_id", "ts", F.lag("ts").over(w_lag).alias("prev_ts")
    )
    marked = errors.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("prev_ts").isNull()
            | ((us("ts") - us("prev_ts")) > 600000000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = marked.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("is_new").over(w_run).alias("burst_id"),
    )
    span = F.unix_micros(F.max("ts").cast("timestamp")) - F.unix_micros(
        F.min("ts").cast("timestamp")
    )
    return (
        grouped.groupBy("user_id", "burst_id")
        .agg(
            F.min("event_id").cast("bigint").alias("alert_event_id"),
            (F.count("*") - 1).cast("bigint").alias("n_suppressed"),
            span.cast("bigint").alias("burst_span_us"),
        )
        .select(
            "user_id",
            F.col("burst_id").cast("bigint").alias("burst_id"),
            "alert_event_id",
            "n_suppressed",
            "burst_span_us",
        )
    )


@query(
    "ts_hierarchy_coherence",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), bottom_fc AS (
        SELECT cur.event_type, cur.day, base.n AS fc
        FROM daily cur JOIN daily base
          ON base.event_type = cur.event_type
         AND base.day = cur.day - INTERVAL 7 DAY
    ), total_daily AS (
        SELECT day, CAST(SUM(n) AS BIGINT) AS n FROM daily GROUP BY day
    ), top_fc AS (
        SELECT cur.day, base.n AS fc
        FROM total_daily cur JOIN total_daily base
          ON base.day = cur.day - INTERVAL 7 DAY
    )
    SELECT b.day,
           CAST(SUM(b.fc) AS BIGINT) AS bottom_up_fc,
           CAST(MAX(t.fc) AS BIGINT) AS top_down_fc,
           CAST(SUM(b.fc) - MAX(t.fc) AS BIGINT) AS coherence_gap
    FROM bottom_fc b JOIN top_fc t ON t.day = b.day
    GROUP BY b.day
    """,
)
def ts_hierarchy_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical-forecast COHERENCE check (round 6): seasonal-naive
    forecasts made independently per series (bottom level) versus one
    made on the pre-aggregated total (top level) — per day, does
    Σ child forecasts equal the total's own forecast?  For snaive
    under a complete panel they coincide; gaps appear exactly where a
    series was MISSING from the base week (its forecast contributes
    nothing while the total's base day still counted it) — so the gap
    is simultaneously the hierarchical-reconciliation diagnostic
    (planning stacks must pick bottom-up, top-down, or MinT — this
    measures how much it matters) and a panel-completeness alarm.

    Exactness: snaive forecast = the count 7 days prior — pure bigint
    calendar self-joins (ts_period_over_period's discipline), summed
    exactly; the gap is integer subtraction.  No floats at all.

    Scale: everything runs on the daily AGGREGATE (|series|×|days|);
    the fact table shuffles once for the rollup."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    cur = daily.alias("cur")
    base = daily.select(
        F.col("event_type").alias("b_type"),
        F.col("day").alias("b_day"),
        F.col("n").alias("fc"),
    )
    bottom_fc = cur.join(
        base,
        (F.col("b_type") == F.col("cur.event_type"))
        & (F.col("b_day") == F.date_sub(F.col("cur.day"), 7)),
    ).select(F.col("cur.day").alias("day"), "fc")
    total_daily = daily.groupBy("day").agg(
        F.sum("n").cast("bigint").alias("n")
    )
    tbase = total_daily.select(
        F.col("day").alias("t_day"), F.col("n").alias("tfc")
    )
    top_fc = total_daily.join(
        tbase, F.col("t_day") == F.date_sub(F.col("day"), 7)
    ).select("day", "tfc")
    joined = bottom_fc.groupBy("day").agg(
        F.sum("fc").cast("bigint").alias("bottom_up_fc")
    ).join(top_fc, "day")
    return joined.select(
        "day",
        "bottom_up_fc",
        F.col("tfc").cast("bigint").alias("top_down_fc"),
        (F.col("bottom_up_fc") - F.col("tfc"))
        .cast("bigint")
        .alias("coherence_gap"),
    )


@query(
    "events_resurrection",
    """
    WITH daily AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ), lagged AS (
        SELECT user_id, day,
               lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
        FROM daily
    ), classified AS (
        SELECT day,
               CASE WHEN prev_day IS NULL THEN 'new'
                    WHEN day - prev_day >= 14 THEN 'resurrected'
                    ELSE 'retained' END AS klass
        FROM lagged
    )
    SELECT day,
           CAST(COUNT(*) FILTER (klass = 'new') AS BIGINT) AS n_new,
           CAST(COUNT(*) FILTER (klass = 'retained') AS BIGINT) AS n_retained,
           CAST(COUNT(*) FILTER (klass = 'resurrected') AS BIGINT)
               AS n_resurrected
    FROM classified GROUP BY day
    """,
)
def events_resurrection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW / RETAINED / RESURRECTED daily split (round 6): the growth-
    accounting triple — events_new_vs_returning's binary split with
    the third class product teams actually chase: a user active today
    whose PREVIOUS active day is ≥14 days back is a resurrection
    (win-back campaigns live on this number), under 14 days they're
    retained, no previous day means new.  Exhaustive and exclusive by
    construction (trichotomy on the lag), and growth accounting
    follows: today's actives = new + retained + resurrected.

    Pure calendar-integer arithmetic: distinct (user, day) activity,
    one lag per user, DATE subtraction (exact int days), a day-keyed
    rollup.  No floats.

    Scale: the distinct is the only corpus-sized shuffle; the lag
    window rides the user key; the rollup is |days| rows — the
    events_retention discipline with a per-user lag instead of a
    cohort join."""
    ev = load(spark, sf_dir, "events")
    daily = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = daily.select(
        "user_id", "day", F.lag("day").over(w).alias("prev_day")
    )
    klass = (
        F.when(F.col("prev_day").isNull(), "new")
        .when(F.datediff("day", "prev_day") >= 14, "resurrected")
        .otherwise("retained")
    )
    return (
        lagged.select("day", klass.alias("klass"))
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("klass") == "new", 1))
            .cast("bigint")
            .alias("n_new"),
            F.count(F.when(F.col("klass") == "retained", 1))
            .cast("bigint")
            .alias("n_retained"),
            F.count(F.when(F.col("klass") == "resurrected", 1))
            .cast("bigint")
            .alias("n_resurrected"),
        )
    )


@query(
    "ts_theil_sen_slope",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                          AS DOUBLE) / COUNT(*)) AS BIGINT) AS m_e4
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), slopes AS (
        SELECT a.event_type,
               CAST(FLOOR(CAST(b.m_e4 - a.m_e4 AS DOUBLE)
                          / (b.day - a.day) * 100) AS BIGINT) AS s_e6
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
    ), ranked AS (
        SELECT event_type, s_e6,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY s_e6) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS k
        FROM slopes
    )
    SELECT event_type, CAST(k AS BIGINT) AS n_pairs,
           CAST(s_e6 AS BIGINT) AS slope_e6
    FROM ranked WHERE rn = (k + 1) // 2
    """,
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope per event type (round 7) — the
    median of all pairwise day-to-day slopes: breakdown point 29%,
    versus agg_regr_trend's OLS slope that one outlier day drags
    arbitrarily.  The standard robust-trend estimator for noisy
    operational metrics.

    Exactness: daily means floor once to e4 (same sum/count program
    both engines); each pairwise slope floors once to e6 (Δm_e4/Δdays
    ·100, one double division); the median pick is the integer-exact
    lower-median rank (k+1)//2 over (slope, pair) — the
    agg_median_of_means midpoint discipline — with ROW_NUMBER
    tie-broken by the slope value itself (duplicates collapse
    identically in both engines since only s_e6 is emitted).

    Scale: pairwise generation is per-group over the DAILY atom table
    — O(d²) with d = days, bounded by calendar span (3 650 rows per
    decade), never by event count; the join and the rank window are
    keyed by event_type."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    ).agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 10000).cast("bigint")).cast(
                "double"
            )
            / F.count("*")
        )
        .cast("bigint")
        .alias("m_e4")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.floor(
            (F.col("b.m_e4") - F.col("a.m_e4")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day"))
            * 100
        )
        .cast("bigint")
        .alias("s_e6"),
    )
    w = Window.partitionBy("event_type").orderBy("s_e6")
    wc = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "s_e6",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("k"),
    )
    return ranked.filter(
        F.col("rn") == F.floor((F.col("k") + 1) / 2).cast("int")
    ).select(
        "event_type",
        F.col("k").cast("bigint").alias("n_pairs"),
        F.col("s_e6").cast("bigint").alias("slope_e6"),
    )


@query(
    "events_stickiness",
    """
    WITH daily AS (
        SELECT date_trunc('month', ts) AS month,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1, 2
    ), monthly AS (
        SELECT date_trunc('month', ts) AS month,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM events GROUP BY 1
    )
    SELECT CAST(d.month AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(d.dau) AS BIGINT) AS dau_total,
           MAX(m.mau) AS mau,
           CAST(FLOOR(CAST(SUM(d.dau) AS DOUBLE)
                      / (COUNT(*) * MAX(m.mau)) * 10000) AS BIGINT)
               AS stickiness_e4
    FROM daily d JOIN monthly m ON d.month = m.month
    GROUP BY d.month
    """,
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month (round 7) — the engagement ratio
    every consumer product reports: average daily active users over
    monthly active users.  events_active_users_rolling gives the
    rolling-window numerator; this is the calendar-month readout with
    the distinct-user denominator.

    Exactness: DAU and MAU are exact distinct counts; stickiness is
    ONE floored division of bigints (Σdau / (days·mau)).

    Scale: two distinct aggregations keyed by calendar bucket (both
    map-side partial over (bucket, user) pairs), joined on month —
    the month table is dimension-tiny."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("month", F.col("ts").cast("timestamp")).alias("month"),
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
        "user_id",
    )
    daily = ev.groupBy("month", "day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    monthly = ev.groupBy("month").agg(
        F.countDistinct("user_id").cast("bigint").alias("mau")
    )
    j = daily.join(F.broadcast(monthly), "month")
    return j.groupBy("month").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("dau").cast("bigint").alias("dau_total"),
        F.max("mau").alias("mau"),
        F.floor(
            F.sum("dau").cast("double")
            / (F.count("*") * F.max("mau"))
            * 10000
        )
        .cast("bigint")
        .alias("stickiness_e4"),
    ).select(
        F.col("month").cast("date").alias("month"),
        "n_days",
        "dau_total",
        "mau",
        "stickiness_e4",
    )


@query(
    "events_session_depth_hist",
    """
    WITH numbered AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM numbered
    ), sessed AS (
        SELECT user_id,
               SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS sess_id
        FROM marked
    ), depths AS (
        SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS depth
        FROM sessed GROUP BY user_id, sess_id
    )
    SELECT depth,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM depths GROUP BY depth
    """,
)
def events_session_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth histogram (round 7): how many events a
    30-minute-gap session contains, as a distribution — the
    engagement-shape readout (1-event bounce sessions vs long
    explorations) that events_sessionize's per-session rows feed in
    practice.

    The running-sum window orders by the (ts, event_id) TOTAL order,
    same as user_sessions after the ADVICE r6 fix: with duplicate
    timestamps a ts-only order could split a tie block across two
    sessions differently per run.  Exact bigint counts everywhere; no
    floats at all.

    Scale: the sessionization pair of keyed windows (one user_id
    exchange, reused), then two keyed aggregations; the histogram is
    bounded by max depth."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    numbered = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.lag("ts").over(w_lag).alias("prev_ts"),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    marked = numbered.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("prev_ts").isNull()
            | ((us("ts") - us("prev_ts")) > 1800000000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    depths = (
        marked.select(
            "user_id", F.sum("is_new").over(w_run).alias("sess_id")
        )
        .groupBy("user_id", "sess_id")
        .agg(F.count("*").cast("bigint").alias("depth"))
    )
    return depths.groupBy("depth").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@query(
    "ts_ordinal_patterns",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               lag(CAST(FLOOR(value * 10000) AS BIGINT), 1)
                   OVER w AS v1,
               lag(CAST(FLOOR(value * 10000) AS BIGINT), 2)
                   OVER w AS v2
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), pat AS (
        SELECT event_type,
               9 * (CASE WHEN v1 > v2 THEN 2 WHEN v1 = v2 THEN 1
                         ELSE 0 END)
               + 3 * (CASE WHEN v > v1 THEN 2 WHEN v = v1 THEN 1
                           ELSE 0 END)
               + (CASE WHEN v > v2 THEN 2 WHEN v = v2 THEN 1
                       ELSE 0 END) AS motif
        FROM base WHERE v2 IS NOT NULL
    ), counts AS (
        SELECT event_type, motif, CAST(COUNT(*) AS BIGINT) AS n
        FROM pat GROUP BY event_type, motif
    ), tot AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
        FROM counts GROUP BY event_type
    )
    SELECT c.event_type, CAST(c.motif AS BIGINT) AS motif, c.n,
           CAST(FLOOR(CAST(c.n AS DOUBLE) / t.total * 1000000)
                AS BIGINT) AS p_e6
    FROM counts c JOIN tot t ON t.event_type = c.event_type
    """,
)
def ts_ordinal_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 ordinal-motif profile per event type (round 7) — the
    permutation-entropy / Bandt-Pompe representation's histogram
    stage: each consecutive value triple maps to one of 27 motifs by
    the pairwise comparisons (v₁ vs v₂, v₂ vs v₃, v₁ vs v₃, each
    up/flat/down), and the motif distribution is the complexity
    fingerprint (white noise → uniform over monotone motifs; trends
    and cycles → concentrated).  Downstream entropy is one exact-sum
    pass over these ≤27 rows per group.

    Determinism: triples order by the (ts, event_id) total order;
    comparisons run on floored-e4 integers (a tie is a STRUCTURAL
    'flat' leg, not float lottery); share floors once per motif.

    Scale: two keyed lag windows (one event_type exchange) + keyed
    counts; the motif table is ≤27·|groups| rows."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    base = ev.select(
        "event_type",
        v.alias("v"),
        F.lag(v, 1).over(w).alias("v1"),
        F.lag(v, 2).over(w).alias("v2"),
    ).filter(F.col("v2").isNotNull())

    def leg(a, b):
        return (
            F.when(F.col(a) > F.col(b), 2)
            .when(F.col(a) == F.col(b), 1)
            .otherwise(0)
        )

    pat = base.select(
        "event_type",
        (9 * leg("v1", "v2") + 3 * leg("v", "v1") + leg("v", "v2")).alias(
            "motif"
        ),
    )
    counts = pat.groupBy("event_type", "motif").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total")
    )
    return counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("motif").cast("bigint").alias("motif"),
        "n",
        F.floor(F.col("n").cast("double") / F.col("total") * 1000000)
        .cast("bigint")
        .alias("p_e6"),
    )


@query(
    "ts_sax_symbols",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                          AS DOUBLE) / COUNT(*)) AS BIGINT) AS m_e4
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(m_e4) AS BIGINT) AS s,
               CAST(SUM(m_e4 * m_e4) AS BIGINT) AS ss
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.m_e4,
           CASE WHEN (CAST(st.ss AS DOUBLE)
                      - CAST(st.s AS DOUBLE) * st.s / st.k) / st.k
                     <= 0.0 THEN 'b'
                WHEN (CAST(d.m_e4 AS DOUBLE) - CAST(st.s AS DOUBLE) / st.k)
                     / sqrt((CAST(st.ss AS DOUBLE)
                             - CAST(st.s AS DOUBLE) * st.s / st.k)
                            / st.k)
                     < -0.67 THEN 'a'
                WHEN (CAST(d.m_e4 AS DOUBLE) - CAST(st.s AS DOUBLE) / st.k)
                     / sqrt((CAST(st.ss AS DOUBLE)
                             - CAST(st.s AS DOUBLE) * st.s / st.k)
                            / st.k)
                     < 0.0 THEN 'b'
                WHEN (CAST(d.m_e4 AS DOUBLE) - CAST(st.s AS DOUBLE) / st.k)
                     / sqrt((CAST(st.ss AS DOUBLE)
                             - CAST(st.s AS DOUBLE) * st.s / st.k)
                            / st.k)
                     < 0.67 THEN 'c'
                ELSE 'd' END AS sym
    FROM daily d JOIN stats st ON st.event_type = d.event_type
    """,
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of the daily series per event type (round 7)
    — Symbolic Aggregate approXimation: z-normalize each day's mean
    against its group and quantize into a 4-letter alphabet at the
    standard Gaussian breakpoints (−0.67, 0, 0.67).  The symbolic
    series is what motif mining, symbolic anomaly detection, and
    series indexing actually consume; ts_downsample_m4 keeps shape
    for plots, SAX keeps shape for ALPHABETS.

    Parity: daily means floor once to e4; group moments are exact
    bigint sums; the z expression is ONE double chain written
    identically in both engines, and each CASE breakpoint compares
    the same double — a boundary tie lands the same side in both.
    Zero-variance groups emit the middle symbol instead of dividing
    by zero.

    Scale: daily atom table (calendar-bounded) + one broadcast of
    per-group moments; everything keyed by event_type."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    ).agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 10000).cast("bigint")).cast(
                "double"
            )
            / F.count("*")
        )
        .cast("bigint")
        .alias("m_e4")
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("m_e4").cast("bigint").alias("s"),
        F.sum(F.col("m_e4") * F.col("m_e4")).cast("bigint").alias("ss"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    z = (
        F.col("m_e4").cast("double")
        - F.col("s").cast("double") / F.col("k")
    ) / F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("k")
        )
        / F.col("k")
    )
    # variance guard on the SAME double chain as z's denominator —
    # an integer k*ss - s*s formulation would overflow bigint on
    # decade spans (s ~ 1e7 * days)
    var0 = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("k")
    ) / F.col("k") <= 0.0
    sym = (
        F.when(var0, F.lit("b"))
        .when(z < -0.67, F.lit("a"))
        .when(z < 0.0, F.lit("b"))
        .when(z < 0.67, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return j.select("event_type", "day", "m_e4", sym.alias("sym"))


@query(
    "ts_durbin_watson",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                          AS DOUBLE) / COUNT(*)) AS BIGINT) AS m_e4
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), diffs AS (
        SELECT event_type, m_e4,
               m_e4 - lag(m_e4) OVER (PARTITION BY event_type
                                      ORDER BY day) AS dm
        FROM daily
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
           CASE WHEN CAST(SUM(m_e4 * m_e4) AS DOUBLE)
                     - CAST(SUM(m_e4) AS DOUBLE) * SUM(m_e4) / COUNT(*)
                     > 0
                THEN CAST(FLOOR(CAST(SUM(dm * dm) AS DOUBLE)
                     / (CAST(SUM(m_e4 * m_e4) AS DOUBLE)
                        - CAST(SUM(m_e4) AS DOUBLE) * SUM(m_e4)
                          / COUNT(*))
                     * 1000000) AS BIGINT)
                ELSE NULL END AS dw_e6
    FROM diffs GROUP BY event_type
    """,
)
def ts_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson autocorrelation statistic of the daily series
    per event type (round 7) — Σ(Δe)²/Σe² over mean residuals: ≈2 for
    white noise, →0 under positive serial correlation, →4 under
    negative.  The one-number companion to ts_acf's full
    correlogram, and the residual-independence check ts_ljung_box
    formalizes.

    The algebra that keeps it exact: successive-RESIDUAL differences
    equal successive-MEAN differences (the group mean cancels), so
    the numerator is an exact bigint sum of squared e4 diffs; the
    denominator Σe² = Σm² − (Σm)²/k is one double chain from exact
    sums; ONE floored division.  Zero-variance groups emit NULL.

    Scale: calendar-bounded daily atoms, one keyed lag window, one
    keyed aggregate."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    ).agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 10000).cast("bigint")).cast(
                "double"
            )
            / F.count("*")
        )
        .cast("bigint")
        .alias("m_e4")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    diffs = daily.select(
        "event_type",
        "m_e4",
        (F.col("m_e4") - F.lag("m_e4").over(w)).alias("dm"),
    )
    g = diffs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("dm") * F.col("dm")).cast("bigint").alias("num"),
        F.sum("m_e4").cast("bigint").alias("s"),
        F.sum(F.col("m_e4") * F.col("m_e4")).cast("bigint").alias("ss"),
    )
    den = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("k")
    )
    return g.select(
        "event_type",
        "k",
        F.when(
            den > 0,
            F.floor(F.col("num").cast("double") / den * 1000000).cast(
                "bigint"
            ),
        ).alias("dw_e6"),
    )


@query(
    "events_interarrival_hist",
    """
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id))
                   AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(length(bin(gap_us + 1)) AS BIGINT) AS bucket_log2,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS lo_us,
           CAST(MAX(gap_us) AS BIGINT) AS hi_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type, length(bin(gap_us + 1))
    """,
)
def events_interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time histogram per event type (round 7), log2
    buckets — the arrival-process fingerprint (exponential ≈ straight
    line in log-buckets; heavy-tailed bursts show as a long right
    tail) that events_burstiness reduces to one number and
    agg_poisson_dispersion tests at daily grain.

    Determinism: gaps come from the (ts, event_id) total order; the
    bucket is the BIT LENGTH of (gap_µs + 1) — integer-exact in both
    engines (length(bin(x)) / length(conv(x,10,2))), no floating log
    whose libm rounding could flip a power-of-two boundary.

    Scale: one keyed lag window + keyed counts; buckets are ≤64 per
    group by construction."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(F.col("ts")).over(w)
    gaps = ev.select(
        "event_type",
        (
            us - F.unix_micros(prev.cast("timestamp"))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    bucket = F.length(
        F.conv((F.col("gap_us") + 1).cast("string"), 10, 2)
    ).cast("bigint")
    return gaps.groupBy("event_type", bucket.alias("bucket_log2")).agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("lo_us"),
        F.max("gap_us").cast("bigint").alias("hi_us"),
    )


@query(
    "win_streak_longest",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ), runs AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER)
                   AS grp
        FROM days
    ), streaks AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
        FROM runs GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def win_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (round 7) —
    the engagement metric every habit-forming product tracks, and the
    canonical tabibitosan program read out per USER: distinct active
    days → (day − row_number) is constant exactly within a
    consecutive run → run lengths → max/sum/count per user.
    win_gaps_islands emits the islands themselves; this is the
    per-key streak summary (ingest_block_gaps' cousin on the
    engagement side).

    Pure integer date arithmetic — no floats, no ties (days are
    distinct by construction).

    Scale: one user-keyed exchange shared by the distinct, the
    row_number window and both rollups."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    runs = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("grp"),
    )
    streaks = runs.groupBy("user_id", "grp").agg(
        F.count("*").cast("bigint").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count("*").cast("bigint").alias("n_streaks"),
    )


@query(
    "ts_cross_correlation_lagged",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                          AS DOUBLE) / COUNT(*)) AS BIGINT) AS m_e4
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type, date_trunc('day', ts)
    ), a AS (SELECT day, m_e4 FROM daily WHERE event_type = 'click'),
    b AS (SELECT day, m_e4 FROM daily WHERE event_type = 'purchase'),
    lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
    paired AS (
        SELECT l.lag, a.m_e4 AS xa, b.m_e4 AS xb
        FROM lags l
        JOIN a ON TRUE
        JOIN b ON b.day = a.day + CAST(l.lag AS INT) * INTERVAL 1 DAY
    ), m AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(xa) AS BIGINT) AS sa,
               CAST(SUM(xb) AS BIGINT) AS sb,
               CAST(SUM(xa * xa) AS BIGINT) AS saa,
               CAST(SUM(xb * xb) AS BIGINT) AS sbb,
               CAST(SUM(xa * xb) AS BIGINT) AS sab
        FROM paired GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_days,
           CASE WHEN n_days > 1
                     AND CAST(n_days AS DOUBLE) * saa
                         - CAST(sa AS DOUBLE) * sa > 0
                     AND CAST(n_days AS DOUBLE) * sbb
                         - CAST(sb AS DOUBLE) * sb > 0
                THEN CAST(FLOOR(
                    (CAST(n_days AS DOUBLE) * sab
                     - CAST(sa AS DOUBLE) * sb)
                    / sqrt((CAST(n_days AS DOUBLE) * saa
                            - CAST(sa AS DOUBLE) * sa)
                           * (CAST(n_days AS DOUBLE) * sbb
                              - CAST(sb AS DOUBLE) * sb))
                    * 1000000) AS BIGINT)
                ELSE NULL END AS corr_e6
    FROM m
    """,
)
def ts_cross_correlation_lagged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lagged cross-correlation between the click and purchase daily
    series (round 7), lags −3..+3 — the lead/lag detector: does click
    volume today predict purchase volume in k days?  ts_rolling_corr
    tracks contemporaneous co-movement over time; this sweeps the lag
    axis once, which is how conversion delay shows up at series
    grain (events_conversion_lag measures it per user).

    Exactness: daily means floor once to e4; per-lag Pearson moments
    are exact bigint sums over the lag-shifted day join; one double
    chain per lag with degenerate-variance guards.

    Scale: the daily atom tables are calendar-bounded; the 7-lag
    spine is a broadcast constant; each (lag, day) join row count is
    ≤ 7·|days|."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    ).agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 10000).cast("bigint")).cast(
                "double"
            )
            / F.count("*")
        )
        .cast("bigint")
        .alias("m_e4")
    )
    a = daily.filter(F.col("event_type") == "click").select(
        F.col("day").alias("a_day"), F.col("m_e4").alias("xa")
    )
    b = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("b_day"), F.col("m_e4").alias("xb")
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b_day") == F.date_add(F.col("a_day"), F.col("lag")),
        )
        .select("lag", "xa", "xb")
    )
    m = paired.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("xa").cast("bigint").alias("sa"),
        F.sum("xb").cast("bigint").alias("sb"),
        F.sum(F.col("xa") * F.col("xa")).cast("bigint").alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).cast("bigint").alias("sbb"),
        F.sum(F.col("xa") * F.col("xb")).cast("bigint").alias("sab"),
    )
    nd = F.col("n_days").cast("double")
    num = nd * F.col("sab") - F.col("sa").cast("double") * F.col("sb")
    dx = nd * F.col("saa") - F.col("sa").cast("double") * F.col("sa")
    dy = nd * F.col("sbb") - F.col("sb").cast("double") * F.col("sb")
    corr = F.floor(num / F.sqrt(dx * dy) * 1000000).cast("bigint")
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n_days",
        F.when((F.col("n_days") > 1) & (dx > 0) & (dy > 0), corr).alias(
            "corr_e6"
        ),
    )


@query(
    "ts_bollinger_bands",
    """
    WITH base AS (
        SELECT event_id, event_type, ts,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v
        FROM events
    ), stats AS (
        SELECT event_id, event_type, v,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(v) OVER w AS BIGINT) AS s,
               CAST(SUM(v * v) OVER w AS BIGINT) AS ss
        FROM base
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, v,
           CASE WHEN n >= 20 THEN
               CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT)
           ELSE NULL END AS ma_e4,
           CASE WHEN n >= 20 THEN
               CAST(FLOOR(sqrt((CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * s / n) / n)
                          * 2.0) AS BIGINT)
           ELSE NULL END AS band_halfwidth_e4,
           CASE WHEN n >= 20 THEN
               CAST(v AS DOUBLE)
               > CAST(s AS DOUBLE) / n
                 + sqrt((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * s / n) / n) * 2.0
           ELSE NULL END AS above_upper
    FROM stats
    """,
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over each type's value stream (round 7) — the
    rolling mean ± 2σ envelope every monitoring dashboard draws, with
    per-row breach flags: the CONTINUOUS-threshold sibling of
    ts_zscore_anomaly's boolean (same 20-row frame discipline, but
    emitting the band geometry so downstream can plot/alert on
    proximity, not just breach).

    Exactness: frame sums of e4 integers are exact; mean, half-width
    and the breach comparison are per-row double chains written
    identically in both engines (population σ over the frame; rows
    before a full 20-row frame emit NULL — no partial-window
    ambiguity).

    Scale: one keyed window frame (event_type exchange shared by all
    three readouts); O(1) state per row via the running-frame sums."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    stats = base.select(
        "event_id",
        "event_type",
        "v",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("v").over(w).cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).over(w).cast("bigint").alias("ss"),
    )
    full = F.col("n") >= 20
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / F.col("n")
    )
    return stats.select(
        "event_id",
        "event_type",
        "v",
        F.when(full, F.floor(mean).cast("bigint")).alias("ma_e4"),
        F.when(full, F.floor(sd * 2.0).cast("bigint")).alias(
            "band_halfwidth_e4"
        ),
        F.when(full, F.col("v").cast("double") > mean + sd * 2.0).alias(
            "above_upper"
        ),
    )


@query(
    "events_churn_weekly",
    """
    WITH weekly AS (
        SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week,
               user_id
        FROM events
    ), weeks AS (
        SELECT DISTINCT week FROM weekly
    ), churned AS (
        SELECT w.week,
               CAST(COUNT(*) AS BIGINT) AS n_churned
        FROM weeks w
        JOIN weekly prev
          ON prev.week = w.week - INTERVAL 7 DAY
        LEFT JOIN weekly cur
          ON cur.week = w.week AND cur.user_id = prev.user_id
        WHERE cur.user_id IS NULL
        GROUP BY w.week
    ), active AS (
        SELECT week, CAST(COUNT(*) AS BIGINT) AS n_active
        FROM weekly GROUP BY week
    )
    SELECT a.week, a.n_active,
           CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned
    FROM active a LEFT JOIN churned c ON c.week = a.week
    """,
)
def events_churn_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly CHURN counts (round 7) — the missing leg of the
    lifecycle trio: events_new_vs_returning classifies arrivals,
    events_resurrection counts comebacks, this counts EXITS — users
    active in week w−1 with no activity in week w.  Retention
    dashboards need all three columns to reconcile (active_w =
    active_{w−1} − churned + new + resurrected).

    Exact distinct (week, user) table feeding an anti-join per week
    pair; calendar weeks are Monday-truncated identically in both
    engines.

    Scale: one (week,user)-keyed distinct + a week-shifted self
    anti-join keyed on user — the distinct table is the bounded
    activity matrix, never raw events."""
    ev = load(spark, sf_dir, "events")
    weekly = ev.select(
        F.date_trunc("week", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("week"),
        "user_id",
    ).distinct()
    weeks = weekly.select("week").distinct()
    prev = weekly.select(
        F.date_add(F.col("week"), 7).alias("week"),
        F.col("user_id"),
    )
    # users present in the prev-shifted week but absent now
    churn_counts = (
        prev.join(weeks, "week")
        .join(weekly, ["week", "user_id"], "left_anti")
        .groupBy("week")
        .agg(F.count("*").cast("bigint").alias("n_churned"))
    )
    active = weekly.groupBy("week").agg(
        F.count("*").cast("bigint").alias("n_active")
    )
    return active.join(churn_counts, "week", "left").select(
        "week",
        "n_active",
        F.coalesce(F.col("n_churned"), F.lit(0))
        .cast("bigint")
        .alias("n_churned"),
    )


@query(
    "ts_range_volatility",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(MAX(CAST(FLOOR(value * 10000) AS BIGINT))
                    - MIN(CAST(FLOOR(value * 10000) AS BIGINT))
                    AS BIGINT) AS range_e4
        FROM events GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(range_e4) AS BIGINT) AS max_range_e4,
           CAST(FLOOR(CAST(SUM(range_e4) AS DOUBLE) / COUNT(*))
                AS BIGINT) AS mean_range_e4,
           CAST(FLOOR(sqrt(CAST(SUM(range_e4 * range_e4) AS DOUBLE)
                           / COUNT(*))) AS BIGINT) AS rms_range_e4
    FROM daily GROUP BY event_type
    """,
)
def ts_range_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based volatility per event type (round 7) — the
    Parkinson-estimator idea on the daily high-low RANGE: range-based
    estimators use intraday extremes a close-to-close σ (agg_stats,
    ts_zscore) throws away, giving ~5× the efficiency per day of
    data.  Mean and RMS daily range are the readouts dashboards
    band-plot; max range flags the single wildest day.

    Exact integer daily ranges (max − min of floored e4 values); the
    mean and RMS are one floored chain each from exact Σ and Σ².

    Scale: calendar-bounded daily atoms + one keyed rollup."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 10000).cast("bigint")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    ).agg((F.max(v) - F.min(v)).cast("bigint").alias("range_e4"))
    return daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max("range_e4").cast("bigint").alias("max_range_e4"),
        F.floor(F.sum("range_e4").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("mean_range_e4"),
        F.floor(
            F.sqrt(
                F.sum(F.col("range_e4") * F.col("range_e4")).cast("double")
                / F.count("*")
            )
        )
        .cast("bigint")
        .alias("rms_range_e4"),
    )


@query(
    "ts_page_hinkley",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, d, x,
               CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                    AS BIGINT) AS i
        FROM daily
    ), term AS (
        SELECT event_type, d, x,
               CAST(FLOOR((CAST(x AS DOUBLE)
                           - CAST(s AS DOUBLE) / CAST(i AS DOUBLE)
                           - 2.0) * 1000000) AS BIGINT) AS t_e6
        FROM cum
    ), m AS (
        SELECT event_type, d, x,
               CAST(SUM(t_e6) OVER (PARTITION BY event_type ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS m_e6
        FROM term
    )
    SELECT event_type, d, x,
           CAST(m_e6 - MIN(m_e6) OVER (PARTITION BY event_type ORDER BY d
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ph_e6,
           CAST(CASE WHEN m_e6 - MIN(m_e6) OVER (PARTITION BY event_type
                          ORDER BY d ROWS UNBOUNDED PRECEDING) > 20000000
                     THEN 1 ELSE 0 END AS BIGINT) AS alarm
    FROM m ORDER BY event_type, d
    """,
)
def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift detector (round 9) per event-type
    daily series: the STREAMING changepoint test — where
    ts_changepoint_cusum scans retrospectively for the single best
    split, Page-Hinkley maintains a one-pass cumulative statistic
    m_t = Σ(xᵢ − x̄ᵢ − δ) against its running minimum and alarms the
    moment the gap exceeds λ — the standard upward-drift monitor in
    data-stream mining (δ=2 tolerated drift, λ=20 alarm threshold
    here). Emitting the whole PH trajectory (not just the alarm)
    makes the readout auditable.

    Exactness: the one fractional term per row (running mean Sᵢ/i)
    floors to e6 immediately — per-row single division, identical
    literal chain both engines — and everything downstream
    (cumulative sum, running min, threshold compare) is exact bigint
    arithmetic, so the trajectory hash-matches at any scale.

    Scale: the raw stream reduces map-side to (type, day) counts
    first; all four windows are keyed by event_type (no
    single-partition stage), sequential-state O(1) per row — the
    shape applyInPandasWithState would use on a live stream, here as
    the replayable batch program."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    w_seq = Window.partitionBy("event_type").orderBy("d")
    w_cum = w_seq.rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "event_type",
        "d",
        "x",
        F.sum("x").over(w_cum).cast("bigint").alias("s"),
        F.row_number().over(w_seq).cast("bigint").alias("i"),
    )
    term = cum.withColumn(
        "t_e6",
        F.floor(
            (
                F.col("x").cast("double")
                - F.col("s").cast("double") / F.col("i").cast("double")
                - 2.0
            )
            * 1000000
        ).cast("bigint"),
    )
    m = term.withColumn(
        "m_e6", F.sum("t_e6").over(w_cum).cast("bigint")
    )
    ph = (F.col("m_e6") - F.min("m_e6").over(w_cum)).cast("bigint")
    return m.select(
        "event_type",
        "d",
        "x",
        ph.alias("ph_e6"),
        F.when(ph > 20000000, 1).otherwise(0).cast("bigint").alias("alarm"),
    ).orderBy("event_type", "d")


@query(
    "ts_variance_ratio",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), delta AS (
        SELECT d, CAST(x - LAG(x) OVER (ORDER BY d) AS BIGINT) AS dx
        FROM daily QUALIFY LAG(x) OVER (ORDER BY d) IS NOT NULL
    ), qsum AS (
        SELECT d,
               CAST(SUM(dx) OVER (ORDER BY d
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS y,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i
        FROM delta
    ), base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dx) AS BIGINT) AS s
        FROM delta
    ), bsum AS (
        SELECT CAST(SUM((b.n * q.y - 5 * b.s) * (b.n * q.y - 5 * b.s))
                    AS BIGINT) AS a
        FROM qsum q, base b WHERE q.i >= 5
    ), dsum AS (
        SELECT CAST(SUM((b.n * dd.dx - b.s) * (b.n * dd.dx - b.s))
                    AS BIGINT) AS bb
        FROM delta dd, base b
    )
    SELECT b.n, CAST(5 AS BIGINT) AS q,
           CAST(FLOOR(
               CAST(a AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1.0)
               * CAST(b.n AS DOUBLE)
               / (CAST(bb AS DOUBLE) * 5.0 * (CAST(b.n AS DOUBLE) - 4.0)
                  * (CAST(b.n AS DOUBLE) - 5.0))
               * 1000000) AS BIGINT) AS vr_e6
    FROM base b, bsum, dsum
    """,
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test statistic (round 9), q=5, on
    the daily event-count CHANGES: VR(q) = Var(q-period sums) /
    (q·Var(1-period)). Under a random walk VR=1; VR>1 means positive
    serial dependence (momentum/bursts), VR<1 mean reversion — the
    aggregation-level diagnostic that complements ts_acf (per-lag
    autocorrelation) with a single scalar per horizon, the classic
    market-efficiency test applied to activity series.

    Exactness by clearing denominators: with S=Σdx and n deltas, the
    overlapping-sum deviation Σ(n·yⱼ−qS)² and the base deviation
    Σ(n·dxᵢ−S)² are exact bigints (integer counts, bounded products),
    and VR = A·(n−1)·n / (B·q·(n−q+1)·(n−q)) — one double division
    at the end, floored e6. The estimator uses the standard
    overlapping q-sums with the m = q(n−q+1)(1−q/n) bias correction.

    Scale: map-side daily rollup, then every window runs over the
    calendar-bounded series (pre-reduced benign single-partition
    shape, same as ts_acf); the statistic folds to one row."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    w_seq = Window.orderBy("d")
    delta = (
        daily.select(
            "d", (F.col("x") - F.lag("x").over(w_seq)).cast("bigint").alias("dx")
        )
        .filter(F.col("dx").isNotNull())
    )
    qsum = delta.select(
        "d",
        F.sum("dx")
        .over(w_seq.rowsBetween(-4, 0))
        .cast("bigint")
        .alias("y"),
        F.row_number().over(w_seq).cast("bigint").alias("i"),
    )
    base = delta.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("s"),
    )
    bsum = (
        qsum.filter(F.col("i") >= 5)
        .crossJoin(F.broadcast(base))
        .agg(
            F.sum(
                (F.col("n") * F.col("y") - 5 * F.col("s"))
                * (F.col("n") * F.col("y") - 5 * F.col("s"))
            )
            .cast("bigint")
            .alias("a")
        )
    )
    dsum = (
        delta.crossJoin(F.broadcast(base))
        .agg(
            F.sum(
                (F.col("n") * F.col("dx") - F.col("s"))
                * (F.col("n") * F.col("dx") - F.col("s"))
            )
            .cast("bigint")
            .alias("bb")
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    vr = (
        d("a")
        * (d("n") - 1.0)
        * d("n")
        / (d("bb") * 5.0 * (d("n") - 4.0) * (d("n") - 5.0))
    )
    return (
        base.crossJoin(F.broadcast(bsum))
        .crossJoin(F.broadcast(dsum))
        .select(
            "n",
            F.lit(5).cast("bigint").alias("q"),
            F.floor(vr * 1000000).cast("bigint").alias("vr_e6"),
        )
    )


@query(
    "ts_best_window_sum",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), rolled AS (
        SELECT event_type, d AS window_end,
               CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS total_7d,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
        FROM daily
    )
    SELECT event_type, window_end, total_7d FROM (
        SELECT event_type, window_end, total_7d,
               ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY total_7d DESC, window_end) AS rk
        FROM rolled WHERE i >= 7
    ) WHERE rk = 1 ORDER BY event_type
    """,
)
def ts_best_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best 7-day window per series (round 9): the maximum
    consecutive-window total and WHEN it ended — "our best week" /
    campaign-peak detection, the argmax companion to ts_max_drawdown's
    argmin. Only complete windows compete (the first 6 days are
    warm-up, excluded), and the argmax tie-pins on the earliest
    window end, so the answer is unique and replayable.

    Exact bigint throughout — daily counts, rolling sum, and the
    argmax rank never touch a float.

    Scale: map-side daily rollup, one keyed rolling-sum window and
    one keyed argmax window over the calendar-bounded series — the
    same two-window shape as ts_max_drawdown, no single-partition
    stage."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    w_seq = Window.partitionBy("event_type").orderBy("d")
    rolled = daily.select(
        "event_type",
        F.col("d").alias("window_end"),
        F.sum("x").over(w_seq.rowsBetween(-6, 0)).cast("bigint").alias(
            "total_7d"
        ),
        F.row_number().over(w_seq).alias("i"),
    ).filter(F.col("i") >= 7)
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("total_7d").desc(), "window_end"
    )
    return (
        rolled.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") == 1)
        .select("event_type", "window_end", "total_7d")
        .orderBy("event_type")
    )


_MKV_SCALE = 10**12
_MKV_ITERS = 8


def _markov_stationary_oracle_sql(iters: int = _MKV_ITERS) -> str:
    """Unrolled DuckDB oracle for the quantized stationary-
    distribution power iteration (the graph_hits_bounded per-round
    discipline on a |types|² matrix): transition probabilities and π
    live as e12 bigints; each update's Σ π(i)·P(i,j) term quantizes
    through one double chain per cell and re-floors, so every round
    reproduces bit-for-bit."""
    s = _MKV_SCALE
    sql = f"""
    WITH tape AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), counts AS MATERIALIZED (
        SELECT prev_type AS f, event_type AS t, CAST(COUNT(*) AS BIGINT) AS n
        FROM tape WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), p AS MATERIALIZED (
        SELECT f, t,
               CAST(FLOOR(CAST(n AS DOUBLE) * {s}.0
                          / SUM(n) OVER (PARTITION BY f)) AS BIGINT) AS p
        FROM counts
    ), states AS MATERIALIZED (SELECT DISTINCT f AS st FROM counts
    ), ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states
    ), pi0 AS MATERIALIZED (
        SELECT st, CAST({s} // (SELECT k FROM ns) AS BIGINT) AS r
        FROM states
    )"""
    for i in range(1, iters + 1):
        sql += f""", raw{i} AS MATERIALIZED (
        SELECT p.t AS st,
               CAST(SUM(CAST(FLOOR(CAST(q.r AS DOUBLE) * CAST(p.p AS DOUBLE)
                             / {s}.0) AS BIGINT)) AS BIGINT) AS r
        FROM p JOIN pi{i - 1} q ON q.st = p.f
        GROUP BY p.t
    ), pi{i} AS MATERIALIZED (
        SELECT st, r FROM raw{i}
    )"""
    sql += f"""
    SELECT st AS event_type, r AS pi_e12 FROM pi{iters} ORDER BY st"""
    return sql


@query("events_markov_stationary", _markov_stationary_oracle_sql())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY distribution of the behavior chain (round 9):
    π = πP iterated to the fixed point of events_markov_transitions'
    matrix — the long-run share of time a user spends in each state,
    the single most-quoted summary of a behavioral Markov model
    (where transitions say "what happens NEXT", π says "what the
    system DOES all day"); π also ranks states for capacity and
    staffing the way raw event counts can't once sessions loop.

    Determinism is the graph_hits_bounded discipline on a tiny
    matrix: P quantizes to e12 per row (floored division), π starts
    uniform, and each π(i)·P(i,j) term floors through one double
    chain before the bigint sum — order-free, bit-exact against the
    unrolled-CTE oracle. Mass leaks ≤ k·iters quanta (≈4e-11),
    referee-bounded.

    Scale: ONE corpus pass builds the count matrix (the transitions
    op's lag window + rollup); the iteration runs on |types|² = 25
    broadcast cells — free at any SF."""
    ev = load(spark, sf_dir, "events")
    s = _MKV_SCALE
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tape = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = tape.groupBy(
        F.col("prev_type").alias("f"), F.col("event_type").alias("t")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wf = Window.partitionBy("f")
    p = counts.select(
        "f",
        "t",
        F.floor(
            F.col("n").cast("double") * float(s)
            / F.sum("n").over(wf).cast("double")
        )
        .cast("bigint")
        .alias("p"),
    ).transform(materialize)
    states = p.select(F.col("f").alias("st")).distinct()
    k = states.count()

    def step(pi, adj, prev, r):
        return (
            p.join(pi.withColumnRenamed("st", "f"), "f")
            .select(
                F.col("t").alias("st"),
                F.floor(
                    F.col("r").cast("double")
                    * F.col("p").cast("double")
                    / float(s)
                )
                .cast("bigint")
                .alias("term"),
            )
            .groupBy("st")
            .agg(F.sum("term").cast("bigint").alias("r"))
        )

    pi = iterate(
        states.select("st", F.lit(s // k).cast("bigint").alias("r")),
        step,
        _MKV_ITERS,
    ).state
    return pi.select("st", "r").select(
        F.col("st").alias("event_type"), F.col("r").alias("pi_e12")
    ).orderBy("event_type")


import math as _math

_PGRAM_PERIODS = (7, 14, 30)
# Integer e9 cosine/sine tables per candidate period, precomputed ONCE
# in Python and embedded as literals in BOTH engines' programs — the
# whole DFT then runs on shared integer coefficients, so no libm
# cos/sin difference can ever flip a floor.
_PGRAM_COS = {
    p: [int(_math.floor(_math.cos(2 * _math.pi * k / p) * 10**9)) for k in range(p)]
    for p in _PGRAM_PERIODS
}
_PGRAM_SIN = {
    p: [int(_math.floor(_math.sin(2 * _math.pi * k / p) * 10**9)) for k in range(p)]
    for p in _PGRAM_PERIODS
}


def _pgram_oracle_sql() -> str:
    branches = []
    for p in _PGRAM_PERIODS:
        cos_list = ", ".join(str(v) for v in _PGRAM_COS[p])
        sin_list = ", ".join(str(v) for v in _PGRAM_SIN[p])
        branches.append(f"""
        SELECT {p} AS period,
               CAST(SUM(x * ([{cos_list}])[CAST(t % {p} AS INT) + 1])
                    AS BIGINT) AS c,
               CAST(SUM(x * ([{sin_list}])[CAST(t % {p} AS INT) + 1])
                    AS BIGINT) AS s
        FROM tape""")
    union = " UNION ALL ".join(branches)
    return f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), tape AS (
        SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS t
        FROM daily
    ), spec AS ({union})
    SELECT period,
           CAST(FLOOR(((CAST(c AS DOUBLE) / 1000000000.0)
                       * (CAST(c AS DOUBLE) / 1000000000.0)
                       + (CAST(s AS DOUBLE) / 1000000000.0)
                       * (CAST(s AS DOUBLE) / 1000000000.0)) * 1000)
                AS BIGINT) AS power_e3
    FROM spec ORDER BY period"""


@query("ts_periodogram_peaks", _pgram_oracle_sql())
def ts_periodogram_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel-style PERIODOGRAM probe (round 9) at candidate
    periods 7/14/30 days: spectral power |Σ xₜ·e^(−2πit/p)|² of the
    daily series at exactly the cycles an analyst suspects — the
    frequency-domain seasonality detector that complements ts_acf
    (lag domain, needs the period to stand out against ALL lags) and
    ts_seasonality_strength (needs the period as input): the
    periodogram RANKS candidate periods by explained oscillation.

    The cross-engine exactness problem a DFT normally has — libm
    cos/sin differ in the last ulp between JVMs and C — is removed
    structurally: the e9-integer coefficient tables are precomputed
    ONCE in Python and embedded as literals in BOTH programs, so
    every term x·coef is an exact bigint product, the sums are
    order-free, and only the final power leaves integers through one
    shared double chain.

    Scale: map-side daily rollup; the index window runs over the
    calendar-bounded series (pre-reduced benign); each period's probe
    is one pass over the tiny tape — O(|days|·|periods|), never
    O(n log n) FFT machinery for three candidate frequencies."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    tape = daily.select(
        "x",
        (F.row_number().over(Window.orderBy("d")) - 1)
        .cast("bigint")
        .alias("t"),
    )
    frames = []
    for p in _PGRAM_PERIODS:
        cos_arr = F.array(*[F.lit(v) for v in _PGRAM_COS[p]])
        sin_arr = F.array(*[F.lit(v) for v in _PGRAM_SIN[p]])
        idx = (F.col("t") % p).cast("int") + 1
        frames.append(
            tape.agg(
                F.lit(p).cast("bigint").alias("period"),
                F.sum(F.col("x") * F.element_at(cos_arr, idx))
                .cast("bigint")
                .alias("c"),
                F.sum(F.col("x") * F.element_at(sin_arr, idx))
                .cast("bigint")
                .alias("s"),
            )
        )
    spec = frames[0]
    for fdf in frames[1:]:
        spec = spec.unionByName(fdf)
    cd = F.col("c").cast("double") / 1e9
    sd = F.col("s").cast("double") / 1e9
    return spec.select(
        "period",
        F.floor((cd * cd + sd * sd) * 1000).cast("bigint").alias("power_e3"),
    ).orderBy("period")


_SPEC_N = 30  # daily-series period table length (January tape)
_SPEC_K = 14  # Fourier frequencies 1..K (below the Nyquist 15)
# e9-integer cos/sin tables cos(2πk·t/N), flattened k-major — computed
# ONCE here and embedded as literals in BOTH engines' programs (the
# ts_periodogram_peaks discipline: no libm cos/sin can flip a floor).
_SPEC_COS = [
    int(_math.floor(_math.cos(2 * _math.pi * k * t / _SPEC_N) * 10**9))
    for k in range(1, _SPEC_K + 1)
    for t in range(_SPEC_N)
]
_SPEC_SIN = [
    int(_math.floor(_math.sin(2 * _math.pi * k * t / _SPEC_N) * 10**9))
    for k in range(1, _SPEC_K + 1)
    for t in range(_SPEC_N)
]
_SPEC_LN_K = repr(_math.log(float(_SPEC_K)))


def _spectral_entropy_oracle_sql() -> str:
    cos_list = ", ".join(str(v) for v in _SPEC_COS)
    sin_list = ", ".join(str(v) for v in _SPEC_SIN)
    return f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), tape AS (
        SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS t
        FROM daily
    ), spec AS (
        SELECT f.k,
               CAST(SUM(e.x * ([{cos_list}])[CAST((f.k - 1) * {_SPEC_N}
                    + e.t % {_SPEC_N} AS INT) + 1]) AS BIGINT) AS c,
               CAST(SUM(e.x * ([{sin_list}])[CAST((f.k - 1) * {_SPEC_N}
                    + e.t % {_SPEC_N} AS INT) + 1]) AS BIGINT) AS s
        FROM tape e, (SELECT unnest([1,2,3,4,5,6,7,8,9,10,11,12,13,14])
                      AS k) f
        GROUP BY f.k
    ), power AS (
        SELECT k,
               CAST(FLOOR(((CAST(c AS DOUBLE) / 1000000000.0)
                           * (CAST(c AS DOUBLE) / 1000000000.0)
                           + (CAST(s AS DOUBLE) / 1000000000.0)
                           * (CAST(s AS DOUBLE) / 1000000000.0)) * 1000)
                    AS BIGINT) AS p_e3
        FROM spec
    ), shared AS (
        SELECT k, p_e3,
               CAST(SUM(p_e3) OVER () AS BIGINT) AS total_e3
        FROM power
    ), terms AS (
        SELECT k, p_e3, total_e3,
               CAST(CASE WHEN p_e3 = 0 THEN 0
                    ELSE FLOOR(-(CAST(p_e3 AS DOUBLE)
                                 / CAST(total_e3 AS DOUBLE))
                               * ln(CAST(p_e3 AS DOUBLE)
                                    / CAST(total_e3 AS DOUBLE))
                               * 1000000000) END AS BIGINT) AS ent_e9,
               CAST(CASE WHEN p_e3 = 0 THEN 0
                    ELSE FLOOR(ln(CAST(p_e3 AS DOUBLE) / 1000.0)
                               * 1000000000) END AS BIGINT) AS lnp_e9
        FROM shared
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_freq,
           CAST(MAX(total_e3) AS BIGINT) AS total_power_e3,
           CAST(SUM(ent_e9) AS BIGINT) AS entropy_e9,
           CAST(FLOOR(CAST(SUM(ent_e9) AS DOUBLE) / 1000000000.0
                      / {_SPEC_LN_K} * 1000000) AS BIGINT)
               AS entropy_norm_e6,
           CAST(CASE WHEN MIN(p_e3) = 0 THEN 0
                ELSE FLOOR(exp(CAST(SUM(lnp_e9) AS DOUBLE) / 1000000000.0
                               / {_SPEC_K})
                           / (CAST(MAX(total_e3) AS DOUBLE) / 1000.0
                              / {_SPEC_K})
                           * 1000000) END AS BIGINT) AS flatness_e6
    FROM terms
    """


@query("ts_spectral_entropy", _spectral_entropy_oracle_sql())
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL ENTROPY + FLATNESS of the daily series (round 9):
    the one-number answer to "is this series periodic or noise?" —
    entropy of the normalized periodogram over the full Fourier grid
    k=1..14 (every resolvable cycle of the 30-day tape, not just the
    ts_periodogram_peaks candidates). A pure tone → one dominant
    power bin → entropy near 0; white noise → flat spectrum →
    normalized entropy near 1; spectral flatness (geometric / arith-
    metic mean of power, Wiener entropy) is the audio-world twin. In
    a forecasting pipeline this is the FORECASTABILITY gate: series
    with entropy ≈ 1 get the naive model, not the seasonal one.

    Cross-engine exactness layer by layer: the 14×30 e9-integer DFT
    coefficient tables are Python-precomputed literals in both
    programs (no libm cos/sin); per-frequency power floors to e3
    BEFORE the cross-frequency reductions, so Σp, entropy terms and
    ln-power terms each start from identical integers; each −q·ln q
    and ln p term floors to e9 per frequency (order-free integer
    sums, no double-accumulation ordering anywhere); ln(14) rides as
    a Python-repr'd literal double.

    Scale: map-side daily rollup → 14-frequency expansion of a
    30-row tape via explode (no cartesian) → all reductions on ≤14
    pre-reduced rows (window-warn budgeted)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    tape = daily.select(
        "x",
        (F.row_number().over(Window.orderBy("d")) - 1)
        .cast("bigint")
        .alias("t"),
    )
    cos_arr = F.array(*[F.lit(v) for v in _SPEC_COS])
    sin_arr = F.array(*[F.lit(v) for v in _SPEC_SIN])
    ks = tape.select(
        "x",
        "t",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _SPEC_K + 1)])
        ).alias("k"),
    )
    idx = (
        (F.col("k") - 1) * _SPEC_N + F.col("t") % _SPEC_N
    ).cast("int") + 1
    spec = ks.groupBy("k").agg(
        F.sum(F.col("x") * F.element_at(cos_arr, idx))
        .cast("bigint")
        .alias("c"),
        F.sum(F.col("x") * F.element_at(sin_arr, idx))
        .cast("bigint")
        .alias("s"),
    )
    cd = F.col("c").cast("double") / 1e9
    sd = F.col("s").cast("double") / 1e9
    power = spec.select(
        "k",
        F.floor((cd * cd + sd * sd) * 1000).cast("bigint").alias("p_e3"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    shared = power.withColumn(
        "total_e3", F.sum("p_e3").over(w_all).cast("bigint")
    )
    q = F.col("p_e3").cast("double") / F.col("total_e3").cast("double")
    terms = shared.select(
        "k",
        "p_e3",
        "total_e3",
        F.when(F.col("p_e3") == 0, F.lit(0))
        .otherwise(F.floor(-q * F.log(q) * 1000000000))
        .cast("bigint")
        .alias("ent_e9"),
        F.when(F.col("p_e3") == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.log(F.col("p_e3").cast("double") / 1000.0) * 1000000000
            )
        )
        .cast("bigint")
        .alias("lnp_e9"),
    )
    ln_k = float(_SPEC_LN_K)
    return terms.groupBy().agg(
        F.count("*").cast("bigint").alias("n_freq"),
        F.max("total_e3").cast("bigint").alias("total_power_e3"),
        F.sum("ent_e9").cast("bigint").alias("entropy_e9"),
        F.floor(
            F.sum("ent_e9").cast("double") / 1000000000.0 / ln_k * 1000000
        )
        .cast("bigint")
        .alias("entropy_norm_e6"),
        F.when(F.min("p_e3") == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.exp(
                    F.sum("lnp_e9").cast("double")
                    / 1000000000.0
                    / float(_SPEC_K)
                )
                / (
                    F.max("total_e3").cast("double")
                    / 1000.0
                    / float(_SPEC_K)
                )
                * 1000000
            )
        )
        .cast("bigint")
        .alias("flatness_e6"),
    )


_HURST_SIZES = (16, 36, 80, 180)
# ln(size) as Python-repr'd literal doubles, plus the purely-literal
# pieces of the least-squares slope over the 4 (ln n, ln RS) points —
# precomputed here so neither engine ever evaluates ln on a literal.
_HURST_X = {s: repr(_math.log(float(s))) for s in _HURST_SIZES}
_HURST_SX = repr(sum(_math.log(float(s)) for s in _HURST_SIZES))
_HURST_DENOM = repr(
    4.0 * sum(_math.log(float(s)) ** 2 for s in _HURST_SIZES)
    - sum(_math.log(float(s)) for s in _HURST_SIZES) ** 2
)


def _hurst_oracle_sql() -> str:
    sizes = ", ".join(str(s) for s in _HURST_SIZES)
    y = {
        s: f"ln(CAST(rs{s} AS DOUBLE) / CAST(nb{s} AS DOUBLE)"
        f" / 1000000.0)"
        for s in _HURST_SIZES
    }
    sxy = " + ".join(f"{_HURST_X[s]} * {y[s]}" for s in _HURST_SIZES)
    sy = " + ".join(y[s] for s in _HURST_SIZES)
    picks = []
    for s in _HURST_SIZES:
        picks.append(
            f"MAX(CASE WHEN size = {s} THEN nblocks END) AS nb{s}"
        )
        picks.append(
            f"MAX(CASE WHEN size = {s} THEN rs_sum_e6 END) AS rs{s}"
        )
    return f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY 1
    ), tape AS (
        SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS BIGINT) AS t,
               CAST(COUNT(*) OVER () AS BIGINT) AS tn
        FROM hourly
    ), expanded AS (
        SELECT s.size, e.t // s.size AS blk, e.t % s.size + 1 AS ti, e.v
        FROM tape e, (SELECT unnest([{sizes}]) AS size) s
        WHERE e.t < s.size * (e.tn // s.size)
    ), wb AS (
        SELECT size, blk, ti, v,
               SUM(v) OVER (PARTITION BY size, blk) AS s_blk,
               SUM(v * v) OVER (PARTITION BY size, blk) AS ss_blk,
               size * SUM(v) OVER (PARTITION BY size, blk ORDER BY ti
                                   ROWS UNBOUNDED PRECEDING)
                   - ti * SUM(v) OVER (PARTITION BY size, blk) AS nz
        FROM expanded
    ), blocks AS (
        SELECT size, blk, MAX(nz) - MIN(nz) AS r_int,
               MAX(s_blk) AS s_blk, MAX(ss_blk) AS ss_blk
        FROM wb GROUP BY size, blk
    ), rs AS (
        SELECT size,
               CAST(CASE WHEN r_int = 0 THEN 0
                    ELSE FLOOR((CAST(r_int AS DOUBLE) / size)
                         / sqrt((CAST(ss_blk AS DOUBLE)
                                 - CAST(s_blk AS DOUBLE)
                                   * CAST(s_blk AS DOUBLE) / size)
                                / size)
                         * 1000000) END AS BIGINT) AS rs_e6
        FROM blocks
    ), persize AS (
        SELECT size, CAST(COUNT(*) AS BIGINT) AS nblocks,
               CAST(SUM(rs_e6) AS BIGINT) AS rs_sum_e6
        FROM rs GROUP BY size
    ), wide AS (
        SELECT {", ".join(picks)} FROM persize
    )
    SELECT CAST(nb16 AS BIGINT) AS nb16, CAST(nb36 AS BIGINT) AS nb36,
           CAST(nb80 AS BIGINT) AS nb80, CAST(nb180 AS BIGINT) AS nb180,
           CAST(FLOOR(CAST(rs16 AS DOUBLE) / nb16) AS BIGINT)
               AS rs_mean16_e6,
           CAST(FLOOR(CAST(rs36 AS DOUBLE) / nb36) AS BIGINT)
               AS rs_mean36_e6,
           CAST(FLOOR(CAST(rs80 AS DOUBLE) / nb80) AS BIGINT)
               AS rs_mean80_e6,
           CAST(FLOOR(CAST(rs180 AS DOUBLE) / nb180) AS BIGINT)
               AS rs_mean180_e6,
           CAST(FLOOR((4.0 * ({sxy}) - {_HURST_SX} * ({sy}))
                      / {_HURST_DENOM} * 1000000) AS BIGINT) AS hurst_e6
    FROM wide
    """


@query("ts_hurst_rs", _hurst_oracle_sql())
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT by rescaled-range (R/S) analysis (round 9):
    the long-memory diagnostic — H≈0.5 means the hourly series is
    memoryless, H>0.5 persistent (trends feed on themselves, naive
    capacity forecasts undershoot), H<0.5 anti-persistent. Classic
    Mandelbrot-Wallis recipe: for each window size n ∈ {16,36,80,
    180} hours, split the tape into ⌊T/n⌋ full blocks, per block
    take R = range of the cumulative deviations from the block mean
    and S = population std, average R/S over blocks, and H is the
    least-squares slope of ln(R/S) on ln(n).

    Cross-engine exactness: within a block, n·Z_t = n·cum_t − t·Σv
    is INTEGER (the mean never divides until the last step), so R
    and S both derive from integer (max−min, Σv, Σv²); each block's
    R/S floors to e6 before the per-size average (order-free integer
    sum); ln(n), Σln(n) and the slope denominator are Python-repr'd
    literals, so each engine only evaluates ln on the four data-
    dependent means; the slope is one literal-ordered chain.

    Scale: hourly rollup is map-side; the 4-size expansion rides an
    explode of the pre-reduced 720-row tape; block windows are keyed
    by (size, block) — the global index window touches only the tape
    (window-warn budgeted)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count("*").cast("bigint").alias("v")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tape = hourly.select(
        "v",
        (F.row_number().over(Window.orderBy("h")) - 1)
        .cast("bigint")
        .alias("t"),
        F.count("*").over(w_all).cast("bigint").alias("tn"),
    )
    expanded = (
        tape.select(
            "v",
            "t",
            "tn",
            F.explode(
                F.array(*[F.lit(s) for s in _HURST_SIZES])
            ).alias("size"),
        )
        .filter(F.col("t") < F.col("size") * F.expr("tn DIV size"))
        .select(
            "size",
            F.expr("t DIV size").alias("blk"),
            (F.col("t") % F.col("size") + 1).alias("ti"),
            "v",
        )
    )
    w_blk = Window.partitionBy("size", "blk")
    w_cum = w_blk.orderBy("ti").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wb = expanded.select(
        "size",
        "blk",
        (
            F.col("size") * F.sum("v").over(w_cum)
            - F.col("ti") * F.sum("v").over(w_blk)
        ).alias("nz"),
        F.sum("v").over(w_blk).alias("s_blk"),
        F.sum(F.col("v") * F.col("v")).over(w_blk).alias("ss_blk"),
    )
    blocks = wb.groupBy("size", "blk").agg(
        (F.max("nz") - F.min("nz")).alias("r_int"),
        F.max("s_blk").alias("s_blk"),
        F.max("ss_blk").alias("ss_blk"),
    )
    dsz = F.col("size").cast("double")
    rs = blocks.select(
        "size",
        F.when(F.col("r_int") == 0, F.lit(0))
        .otherwise(
            F.floor(
                (F.col("r_int").cast("double") / dsz)
                / F.sqrt(
                    (
                        F.col("ss_blk").cast("double")
                        - F.col("s_blk").cast("double")
                        * F.col("s_blk").cast("double")
                        / dsz
                    )
                    / dsz
                )
                * 1000000
            )
        )
        .cast("bigint")
        .alias("rs_e6"),
    )
    persize = rs.groupBy("size").agg(
        F.count("*").cast("bigint").alias("nblocks"),
        F.sum("rs_e6").cast("bigint").alias("rs_sum_e6"),
    )
    wide = persize.groupBy().agg(
        *[
            col
            for s in _HURST_SIZES
            for col in (
                F.max(
                    F.when(F.col("size") == s, F.col("nblocks"))
                ).alias(f"nb{s}"),
                F.max(
                    F.when(F.col("size") == s, F.col("rs_sum_e6"))
                ).alias(f"rs{s}"),
            )
        ]
    )
    ys = {
        s: F.log(
            F.col(f"rs{s}").cast("double")
            / F.col(f"nb{s}").cast("double")
            / 1000000.0
        )
        for s in _HURST_SIZES
    }
    sxy = None
    for s in _HURST_SIZES:
        term = F.lit(float(_HURST_X[s])) * ys[s]
        sxy = term if sxy is None else sxy + term
    sy = None
    for s in _HURST_SIZES:
        sy = ys[s] if sy is None else sy + ys[s]
    hurst = (
        (F.lit(4.0) * sxy - F.lit(float(_HURST_SX)) * sy)
        / F.lit(float(_HURST_DENOM))
        * 1000000
    )
    out_cols = []
    for s in _HURST_SIZES:
        out_cols.append(F.col(f"nb{s}").cast("bigint").alias(f"nb{s}"))
    for s in _HURST_SIZES:
        out_cols.append(
            F.floor(
                F.col(f"rs{s}").cast("double") / F.col(f"nb{s}")
            )
            .cast("bigint")
            .alias(f"rs_mean{s}_e6")
        )
    out_cols.append(F.floor(hurst).cast("bigint").alias("hurst_e6"))
    return wide.select(*out_cols)


@query(
    "events_uplift_qini",
    """
    WITH peru AS (
        SELECT user_id,
               CAST(CAST('0x' || substr(md5('qini:' ||
                    CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2
                    AS BIGINT) AS w,
               CAST(SUM(CASE WHEN day(ts) <= 21
                    THEN CAST(FLOOR(value * 10000) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS score,
               CAST(SUM(CASE WHEN day(ts) >= 22
                    THEN CAST(FLOOR(value * 10000) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ), decs AS (
        SELECT *, CAST(NTILE(10) OVER (ORDER BY score DESC, user_id)
                       AS BIGINT) AS decile
        FROM peru
    ), agg AS (
        SELECT decile,
               CAST(COUNT(*) FILTER (w = 1) AS BIGINT) AS nt,
               CAST(COUNT(*) FILTER (w = 0) AS BIGINT) AS nc,
               CAST(SUM(CASE WHEN w = 1 THEN y ELSE 0 END) AS BIGINT)
                   AS yt,
               CAST(SUM(CASE WHEN w = 0 THEN y ELSE 0 END) AS BIGINT)
                   AS yc
        FROM decs GROUP BY decile
    ), cum AS (
        SELECT decile,
               CAST(SUM(nt) OVER (ORDER BY decile
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnt,
               CAST(SUM(nc) OVER (ORDER BY decile
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnc,
               CAST(SUM(yt) OVER (ORDER BY decile
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cyt,
               CAST(SUM(yc) OVER (ORDER BY decile
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cyc
        FROM agg
    )
    SELECT decile, cnt, cnc, cyt, cyc,
           CAST(CASE WHEN cnc = 0 THEN 0
                ELSE FLOOR(cyt - CAST(cyc AS DOUBLE) * cnt / cnc)
                END AS BIGINT) AS qini_e4,
           CAST(CASE WHEN cnt = 0 OR cnc = 0 THEN 0
                ELSE FLOOR(CAST(cyt AS DOUBLE) / cnt
                           - CAST(cyc AS DOUBLE) / cnc)
                END AS BIGINT) AS uplift_e4
    FROM cum ORDER BY decile
    """,
)
def events_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPLIFT deciles + QINI curve (round 9): the targeting readout
    for an experiment — rank users by a PRE-period activity score,
    then per cumulative decile compare post-period outcomes between
    the hash-assigned arms: uplift(d) = ȳ_t − ȳ_c among the top-d
    deciles, and Qini(d) = Y_t − Y_c·N_t/N_c is the incremental-
    outcome curve whose area is the standard uplift-model metric.
    If targeting works, uplift concentrates in early deciles; under
    this null (random arms, no treatment) the curve referee-hugs 0.
    Completes the experimentation kit: srm → power → cuped →
    switchback → did → sequential-obf → qini.

    Exactness: per-user pre/post e4 sums and the md5 arm are exact;
    NTILE rides a fully-specified order (score desc, user_id); all
    cumulative quantities are integer; the two readouts floor once.

    Scale: the user aggregate is keyed; the decile NTILE is the one
    global-order step (documented single-partition budget — at
    cluster scale the SCALE.md two-level ranking substitutes); the
    cumulative window runs on 10 pre-reduced rows."""
    ev = load(spark, sf_dir, "events")
    arm = md5_int(F.lit("qini:"), F.col("user_id").cast("string"), digits=4) % 2
    v_e4 = F.floor(F.col("value") * 10000).cast("bigint")
    peru = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.dayofmonth("ts") <= 21, v_e4).otherwise(0)
        )
        .cast("bigint")
        .alias("score"),
        F.sum(
            F.when(F.dayofmonth("ts") >= 22, v_e4).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    ).withColumn("w", arm)
    decs = peru.withColumn(
        "decile",
        F.ntile(10)
        .over(Window.orderBy(F.col("score").desc(), "user_id"))
        .cast("bigint"),
    )
    agg = decs.groupBy("decile").agg(
        F.count_if(F.col("w") == 1).cast("bigint").alias("nt"),
        F.count_if(F.col("w") == 0).cast("bigint").alias("nc"),
        F.sum(F.when(F.col("w") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("yt"),
        F.sum(F.when(F.col("w") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("yc"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = agg.select(
        "decile",
        F.sum("nt").over(w_cum).cast("bigint").alias("cnt"),
        F.sum("nc").over(w_cum).cast("bigint").alias("cnc"),
        F.sum("yt").over(w_cum).cast("bigint").alias("cyt"),
        F.sum("yc").over(w_cum).cast("bigint").alias("cyc"),
    )
    qini = F.when(F.col("cnc") == 0, F.lit(0)).otherwise(
        F.floor(
            F.col("cyt")
            - F.col("cyc").cast("double") * F.col("cnt") / F.col("cnc")
        )
    )
    uplift = F.when(
        (F.col("cnt") == 0) | (F.col("cnc") == 0), F.lit(0)
    ).otherwise(
        F.floor(
            F.col("cyt").cast("double") / F.col("cnt")
            - F.col("cyc").cast("double") / F.col("cnc")
        )
    )
    return cum.select(
        "decile",
        "cnt",
        "cnc",
        "cyt",
        "cyc",
        qini.cast("bigint").alias("qini_e4"),
        uplift.cast("bigint").alias("uplift_e4"),
    ).orderBy("decile")


_GUM_SQRT6_PI = "0.779696801233676"
_GUM_GAMMA = "0.5772156649015329"
_GUM_C30 = "3.3842944934992527"
_GUM_C365 = "5.8985259242227315"


@query(
    "agg_gumbel_block_maxima",
    f"""
    WITH blocks AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(MAX(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS m
        FROM events GROUP BY 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m) AS BIGINT) AS s,
               CAST(SUM(m * m) AS BIGINT) AS ss,
               CAST(MAX(m) AS BIGINT) AS observed_max_e4
        FROM blocks
    )
    SELECT n, observed_max_e4,
           CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT) AS mean_e4,
           CAST(FLOOR(sqrt((CAST(ss AS DOUBLE)
                            - CAST(s AS DOUBLE) * s / n) / (n - 1.0))
                      * {_GUM_SQRT6_PI}) AS BIGINT) AS sigma_e4,
           CAST(FLOOR(CAST(s AS DOUBLE) / n
                      - {_GUM_GAMMA}
                        * (sqrt((CAST(ss AS DOUBLE)
                                 - CAST(s AS DOUBLE) * s / n) / (n - 1.0))
                           * {_GUM_SQRT6_PI})) AS BIGINT) AS mu_e4,
           CAST(FLOOR((CAST(s AS DOUBLE) / n
                       - {_GUM_GAMMA}
                         * (sqrt((CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) * s / n)
                                 / (n - 1.0)) * {_GUM_SQRT6_PI}))
                      + (sqrt((CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * s / n) / (n - 1.0))
                         * {_GUM_SQRT6_PI}) * {_GUM_C30}) AS BIGINT)
               AS rl30_e4,
           CAST(FLOOR((CAST(s AS DOUBLE) / n
                       - {_GUM_GAMMA}
                         * (sqrt((CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) * s / n)
                                 / (n - 1.0)) * {_GUM_SQRT6_PI}))
                      + (sqrt((CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * s / n) / (n - 1.0))
                         * {_GUM_SQRT6_PI}) * {_GUM_C365}) AS BIGINT)
               AS rl365_e4
    FROM agg
    """,
)
def agg_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTREME-VALUE return levels by GUMBEL block maxima (round 9):
    capacity planning's actual question is never "what's the mean?"
    but "what daily peak should I expect once a month / once a
    year?". Fisher-Tippett says block maxima of light-tailed data
    converge to a Gumbel; the method-of-moments fit σ̂ = s·√6/π,
    μ̂ = m̄ − γ·σ̂ (γ = Euler–Mascheroni) turns 30 daily maxima into
    return levels z_T = μ̂ + σ̂·(−ln(−ln(1−1/T))) for T = 30 and 365
    days. Complements agg_hill_tail_index (heavy-tail exponent) on
    the light-tailed side.

    Exactness: block maxima are exact e4 integers (max commutes
    with the monotone floor); (n, Σm, Σm²) reduce exactly; √6/π, γ
    and the two −ln(−ln(1−1/T)) constants are Python-repr'd literals
    so neither engine evaluates ln/π itself; each output floors
    through one literal-ordered chain from the same three integers.

    Scale: keyed daily-max partial aggregate → 1-row finish; the
    block grain (day) is the parallelism unit, so the same plan fits
    per-key block maxima at any fan-out."""
    ev = load(spark, sf_dir, "events")
    blocks = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.max(F.floor(F.col("value") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("m")
    )
    agg = blocks.groupBy().agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("s"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("ss"),
        F.max("m").cast("bigint").alias("observed_max_e4"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("s") / F.col("n")
    sd = F.sqrt((d("ss") - d("s") * F.col("s") / F.col("n")) / (F.col("n") - 1.0))
    sigma = sd * float(_GUM_SQRT6_PI)
    mu = mean - float(_GUM_GAMMA) * sigma
    return agg.select(
        "n",
        "observed_max_e4",
        F.floor(mean).cast("bigint").alias("mean_e4"),
        F.floor(sigma).cast("bigint").alias("sigma_e4"),
        F.floor(mu).cast("bigint").alias("mu_e4"),
        F.floor(mu + sigma * float(_GUM_C30))
        .cast("bigint")
        .alias("rl30_e4"),
        F.floor(mu + sigma * float(_GUM_C365))
        .cast("bigint")
        .alias("rl365_e4"),
    )


@query(
    "ts_pot_gpd_moments",
    """
    WITH base AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v FROM events
    ), thr AS (
        SELECT CAST(quantile_disc(v, 0.9) AS BIGINT) AS u,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM base
    ), exc AS (
        SELECT b.v - t.u AS y, t.u, t.n_total
        FROM base b, thr t
        WHERE b.v > t.u
    )
    SELECT CAST(MAX(u) AS BIGINT) AS u_e4,
           CAST(MAX(n_total) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_exceed,
           CAST(FLOOR((0.5 * (1.0
                - (CAST(SUM(y) AS DOUBLE) / COUNT(*))
                  * (CAST(SUM(y) AS DOUBLE) / COUNT(*))
                  / ((CAST(SUM(y * y) AS DOUBLE)
                      - CAST(SUM(y) AS DOUBLE) * SUM(y) / COUNT(*))
                     / (COUNT(*) - 1.0))))
                * 1000000) AS BIGINT) AS xi_e6,
           CAST(FLOOR((0.5 * (CAST(SUM(y) AS DOUBLE) / COUNT(*))
                * (1.0
                   + (CAST(SUM(y) AS DOUBLE) / COUNT(*))
                     * (CAST(SUM(y) AS DOUBLE) / COUNT(*))
                     / ((CAST(SUM(y * y) AS DOUBLE)
                         - CAST(SUM(y) AS DOUBLE) * SUM(y) / COUNT(*))
                        / (COUNT(*) - 1.0))))) AS BIGINT) AS beta_e4
    FROM exc
    """,
)
def ts_pot_gpd_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAKS-OVER-THRESHOLD with a GPD moment fit (round 9): the
    other half of extreme-value theory next to agg_gumbel_block_
    maxima — instead of one maximum per block, use EVERY exceedance
    over a high threshold (the discrete p90 here): excesses over u
    follow a Generalized Pareto(ξ, β), and the method-of-moments
    estimators ξ̂ = ½(1 − m²/s²), β̂ = ½m(1 + m²/s²) read the tail
    shape directly — ξ > 0 heavy tail (infinite higher moments
    in range), ξ < 0 bounded tail, ξ ≈ 0 exponential. POT uses the
    data 10× more efficiently than block maxima on the same window.

    Exactness: u is PERCENTILE_DISC — an actual e4 integer datum in
    both engines (the agg_percentile_disc lane), excesses are exact
    integers, and ξ/β floor through one literal-ordered chain each
    from (n, Σy, Σy²).

    Scale: one global discrete quantile (bounded by the value
    domain), one broadcast threshold anchor, one filtered map-side
    aggregate — streams as a two-pass plan at any SF."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(F.floor(F.col("value") * 10000).cast("bigint").alias("v"))
    thr = base.agg(
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("u"),
        F.count("*").cast("bigint").alias("n_total"),
    )
    exc = (
        base.crossJoin(F.broadcast(thr))
        .filter(F.col("v") > F.col("u"))
        .select((F.col("v") - F.col("u")).alias("y"), "u", "n_total")
    )
    n = F.count("*")
    m = F.sum("y").cast("double") / n
    var = (
        F.sum(F.col("y") * F.col("y")).cast("double")
        - F.sum("y").cast("double") * F.sum("y") / n
    ) / (n - 1.0)
    xi = 0.5 * (1.0 - m * m / var)
    beta = 0.5 * m * (1.0 + m * m / var)
    return exc.groupBy().agg(
        F.max("u").cast("bigint").alias("u_e4"),
        F.max("n_total").cast("bigint").alias("n_total"),
        n.cast("bigint").alias("n_exceed"),
        F.floor(xi * 1000000).cast("bigint").alias("xi_e6"),
        F.floor(beta).cast("bigint").alias("beta_e4"),
    )


@query(
    "ts_changepoint_binseg2",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), tape AS (
        SELECT x,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
               CAST(SUM(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS s,
               CAST(SUM(x) OVER () AS BIGINT) AS stot,
               CAST(COUNT(*) OVER () AS BIGINT) AS tt
        FROM daily
    ), c1 AS (
        SELECT t, tt,
               CAST(FLOOR(CAST(tt * s - t * stot AS DOUBLE)
                          * (tt * s - t * stot)
                          / (t * (tt - t)) / tt * 1000) AS BIGINT)
                   AS gain_e3,
               CAST(ROW_NUMBER() OVER (ORDER BY
                    CAST(FLOOR(CAST(tt * s - t * stot AS DOUBLE)
                               * (tt * s - t * stot)
                               / (t * (tt - t)) / tt * 1000) AS BIGINT)
                    DESC, t) AS BIGINT) AS rnk
        FROM tape WHERE t >= 3 AND t <= tt - 3
    ), cp1 AS (
        SELECT t AS cp, tt, gain_e3 FROM c1 WHERE rnk = 1
    ), seg AS (
        SELECT CASE WHEN e.t <= p.cp THEN 'left' ELSE 'right' END
                   AS segment,
               e.t, e.x, p.cp
        FROM tape e, cp1 p
    ), seg_tape AS (
        SELECT segment, t, cp,
               CAST(ROW_NUMBER() OVER (PARTITION BY segment ORDER BY t)
                    AS BIGINT) AS r,
               CAST(SUM(x) OVER (PARTITION BY segment ORDER BY t
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ls,
               CAST(SUM(x) OVER (PARTITION BY segment) AS BIGINT)
                   AS lstot,
               CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT)
                   AS lt
        FROM seg
    ), c2 AS (
        SELECT segment, t, r, lt,
               CAST(FLOOR(CAST(lt * ls - r * lstot AS DOUBLE)
                          * (lt * ls - r * lstot)
                          / (r * (lt - r)) / lt * 1000) AS BIGINT)
                   AS gain_e3,
               CAST(ROW_NUMBER() OVER (PARTITION BY segment ORDER BY
                    CAST(FLOOR(CAST(lt * ls - r * lstot AS DOUBLE)
                               * (lt * ls - r * lstot)
                               / (r * (lt - r)) / lt * 1000) AS BIGINT)
                    DESC, t) AS BIGINT) AS rnk
        FROM seg_tape WHERE r >= 3 AND r <= lt - 3
    )
    SELECT CAST(1 AS BIGINT) AS level, 'all' AS segment,
           cp AS cp_t, cp AS n_left, tt - cp AS n_right, gain_e3
    FROM cp1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS level, segment, t AS cp_t,
           r AS n_left, lt - r AS n_right, gain_e3
    FROM c2 WHERE rnk = 1
    ORDER BY level, segment
    """,
)
def ts_changepoint_binseg2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-SEGMENTATION changepoints, two levels (round 9): where
    ts_changepoint_cusum asks "did the mean shift?", binary
    segmentation asks "WHERE, and then where within each half?" —
    the classic multiple-changepoint recursion: pick the split t
    maximizing the SSE reduction Δ(t) = (T·Sₜ − t·S)² / (t(T−t)T)
    over the daily tape, then recurse into each side (min segment 3;
    a side shorter than 6 emits no candidate). Two levels = up to 3
    changepoints, the monitoring dashboard's "break the month into
    regimes" readout.

    Exactness: the argmax discriminant T·Sₜ − t·S is an exact
    bigint (prefix sums never divide); the gain floors to e3 through
    one chain, and BOTH the ranking and the tie-break run on the
    floored integer (gain desc, t asc) — so the selected splits are
    identical integers in both engines, level by level.

    Scale: the tape is the pre-reduced daily rollup (global windows
    budgeted); level-2 windows are keyed by segment. For k levels
    the same plan recurses with segment-id prefixes — each level is
    one keyed window pass, never a per-candidate scan."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tape = daily.select(
        "x",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
        F.sum("x").over(w_cum).cast("bigint").alias("s"),
        F.sum("x").over(w_all).cast("bigint").alias("stot"),
        F.count("*").over(w_all).cast("bigint").alias("tt"),
    )

    def gain_col(n_tot, pref, idx, tot):
        dnum = n_tot * pref - idx * tot
        return F.floor(
            dnum.cast("double")
            * dnum
            / (idx * (n_tot - idx))
            / n_tot
            * 1000
        ).cast("bigint")

    g1 = gain_col(F.col("tt"), F.col("s"), F.col("t"), F.col("stot"))
    c1 = tape.filter(
        (F.col("t") >= 3) & (F.col("t") <= F.col("tt") - 3)
    ).select(
        "t",
        "tt",
        g1.alias("gain_e3"),
    )
    c1 = c1.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.col("gain_e3").desc(), "t"))
        .cast("bigint"),
    )
    cp1 = c1.filter(F.col("rnk") == 1).select(
        F.col("t").alias("cp"), "tt", "gain_e3"
    )
    seg = tape.crossJoin(F.broadcast(cp1.select("cp"))).select(
        F.when(F.col("t") <= F.col("cp"), "left")
        .otherwise("right")
        .alias("segment"),
        "t",
        "x",
    )
    w_seg = Window.partitionBy("segment")
    w_seg_cum = w_seg.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seg_tape = seg.select(
        "segment",
        "t",
        F.row_number()
        .over(w_seg.orderBy("t"))
        .cast("bigint")
        .alias("r"),
        F.sum("x").over(w_seg_cum).cast("bigint").alias("ls"),
        F.sum("x").over(w_seg).cast("bigint").alias("lstot"),
        F.count("*").over(w_seg).cast("bigint").alias("lt"),
    )
    g2 = gain_col(F.col("lt"), F.col("ls"), F.col("r"), F.col("lstot"))
    c2 = seg_tape.filter(
        (F.col("r") >= 3) & (F.col("r") <= F.col("lt") - 3)
    ).select("segment", "t", "r", "lt", g2.alias("gain_e3"))
    c2 = c2.withColumn(
        "rnk",
        F.row_number()
        .over(
            Window.partitionBy("segment").orderBy(
                F.col("gain_e3").desc(), "t"
            )
        )
        .cast("bigint"),
    )
    lvl1 = cp1.select(
        F.lit(1).cast("bigint").alias("level"),
        F.lit("all").alias("segment"),
        F.col("cp").alias("cp_t"),
        F.col("cp").alias("n_left"),
        (F.col("tt") - F.col("cp")).cast("bigint").alias("n_right"),
        "gain_e3",
    )
    lvl2 = c2.filter(F.col("rnk") == 1).select(
        F.lit(2).cast("bigint").alias("level"),
        "segment",
        F.col("t").alias("cp_t"),
        F.col("r").alias("n_left"),
        (F.col("lt") - F.col("r")).cast("bigint").alias("n_right"),
        "gain_e3",
    )
    return lvl1.unionByName(lvl2).orderBy("level", "segment")


@query(
    "events_hazard_nelson_aalen",
    """
    WITH peru AS (
        SELECT user_id,
               CAST(FLOOR((epoch(MAX(ts)) - epoch(MIN(ts))) / 3600)
                    AS BIGINT) AS t,
               CAST(CASE WHEN day(MAX(ts)) <= 27 THEN 1 ELSE 0 END
                    AS BIGINT) AS ev
        FROM events GROUP BY user_id
    ), times AS (
        SELECT t,
               CAST(COUNT(*) FILTER (ev = 1) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c_at
        FROM peru GROUP BY t
    ), risk AS (
        SELECT t, d,
               CAST(SUM(c_at) OVER (ORDER BY t DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
        FROM times
    ), terms AS (
        SELECT t, d, n_risk,
               CAST(FLOOR(CAST(d AS DOUBLE) / n_risk * 1000000000)
                    AS BIGINT) AS term_e9
        FROM risk WHERE d > 0
    )
    SELECT t AS t_hours, d, n_risk,
           CAST(SUM(term_e9) OVER (ORDER BY t
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS h_cum_e9
    FROM terms ORDER BY t
    """,
)
def events_hazard_nelson_aalen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NELSON-AALEN cumulative hazard (round 9): the integral twin
    of events_survival_km — where KM multiplies survival factors,
    NA sums the raw hazard increments Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ, which
    is the better-behaved estimator for SMALL risk sets and the one
    whose slope is read directly as "instantaneous churn rate".
    Durations are per-user first→last activity spans in hours;
    users still active in the final 3 days are right-censored (they
    enter risk sets but contribute no jump).

    Exactness: durations, event flags, death counts and the
    at-risk reverse-cumulative are exact integers; each hazard
    increment d/n floors to e9 once and the cumulative hazard is an
    integer prefix sum — no unordered double accumulation.

    Scale: one keyed user aggregate, one reduce to distinct
    durations; both windows run over the distinct-duration tape
    (bounded by the time domain, budgeted)."""
    ev = load(spark, sf_dir, "events")
    peru = ev.groupBy("user_id").agg(
        F.floor(
            (
                F.unix_timestamp(F.max("ts"))
                - F.unix_timestamp(F.min("ts"))
            )
            / 3600
        )
        .cast("bigint")
        .alias("t"),
        F.when(F.dayofmonth(F.max("ts")) <= 27, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("ev"),
    )
    times = peru.groupBy("t").agg(
        F.count_if(F.col("ev") == 1).cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("c_at"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = times.select(
        "t",
        "d",
        F.sum("c_at").over(w_desc).cast("bigint").alias("n_risk"),
    )
    terms = risk.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.floor(F.col("d").cast("double") / F.col("n_risk") * 1000000000)
        .cast("bigint")
        .alias("term_e9"),
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.select(
        F.col("t").alias("t_hours"),
        "d",
        "n_risk",
        F.sum("term_e9").over(w_asc).cast("bigint").alias("h_cum_e9"),
    ).orderBy("t_hours")


@query(
    "ts_robust_decompose",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), tr AS (
        SELECT event_type, d, v,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
               CAST(median(v) OVER w AS BIGINT) AS trend
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
        SELECT event_type, d, v, trend,
               CAST(v - trend AS BIGINT) AS detrended
        FROM tr WHERE n_w = 7
    ), seas AS (
        SELECT event_type, dayofweek(d) AS wd,
               CAST(quantile_disc(detrended, 0.5) AS BIGINT) AS seasonal
        FROM detr GROUP BY event_type, dayofweek(d)
    )
    SELECT t.event_type, t.d, t.v, t.trend, s.seasonal,
           CAST(t.detrended - s.seasonal AS BIGINT) AS remainder
    FROM detr t
    JOIN seas s ON s.event_type = t.event_type
                AND s.wd = dayofweek(t.d)
    ORDER BY t.event_type, t.d
    """,
)
def ts_robust_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-based robust trend/seasonal/remainder decomposition
    (round 9) — the outlier-proof sibling of ts_seasonal_adjust
    (mean-based) and the practical stand-in for STL where exactness
    matters: trend = CENTERED 7-day moving median per series (one
    spike shifts a mean window by spike/7 but leaves the median
    untouched), seasonal = per-weekday discrete median of the
    detrended series, remainder = what neither explains — the series
    anomaly detectors should actually score (feeding a raw series to
    ts_zscore_anomaly makes every Saturday an anomaly).

    Exactness is TOTAL — no floats anywhere: daily counts are
    integers, a 7-element median is the 4th order statistic (an
    element), the weekday seasonal is percentile_disc (an element),
    and both subtractions are bigint.  Incomplete edge windows
    (n_w < 7) are excluded rather than padded — a padded median is a
    different estimator, not a convenience.

    Weekday grouping uses each engine's native weekday numbering
    (Spark 1-7, DuckDB 0-6) — safe because the label is internal to
    the groupBy and never emitted (the agg_partial_correlation
    dayofweek-parity lesson applied preventively).

    Scale: one keyed daily rollup (map-side combinable), one
    per-series ROWS window (partitioned by event_type — never a
    single-partition exchange), a (type × 7)-row seasonal table
    broadcast back.  The 7-element collect_list is O(1) state; the
    moving-median scale note at win_moving_median applies."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
        )
        .agg(F.count("*").cast("bigint").alias("v"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    arr = F.array_sort(F.collect_list("v").over(w))
    tr = daily.select(
        "event_type",
        "d",
        "v",
        F.size(arr).alias("n_w"),
        # try_element_at: edge windows hold 4-6 elements; the n_w == 7
        # filter below discards them, but ANSI mode must not throw on
        # a degenerate (<4-day) series before the filter runs
        F.try_element_at(arr, F.lit(4)).cast("bigint").alias("trend"),
    )
    detr = tr.filter(F.col("n_w") == 7).select(
        "event_type",
        "d",
        "v",
        "trend",
        (F.col("v") - F.col("trend")).cast("bigint").alias("detrended"),
    )
    seas = (
        detr.withColumn("wd", F.dayofweek("d"))
        .groupBy("event_type", "wd")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY detrended)"
            )
            .cast("bigint")
            .alias("seasonal")
        )
    )
    out = detr.withColumn("wd", F.dayofweek("d")).join(
        F.broadcast(seas), ["event_type", "wd"]
    )
    return out.select(
        "event_type",
        "d",
        "v",
        "trend",
        "seasonal",
        (F.col("detrended") - F.col("seasonal"))
        .cast("bigint")
        .alias("remainder"),
    ).orderBy("event_type", "d")


@query(
    "events_survival_cindex",
    """
    WITH peru AS (
        SELECT user_id,
               CAST(FLOOR((epoch(MAX(ts)) - epoch(MIN(ts))) / 3600)
                    AS BIGINT) AS t,
               CAST(CASE WHEN day(MAX(ts)) <= 27 THEN 1 ELSE 0 END
                    AS BIGINT) AS ev,
               CAST(COUNT(*) AS BIGINT) AS score
        FROM events WHERE user_id < 500 GROUP BY user_id
    ), pairs AS (
        SELECT CASE WHEN a.score < b.score THEN 2
                    WHEN a.score = b.score THEN 1
                    ELSE 0 END AS conc2
        FROM peru a JOIN peru b
          ON a.t < b.t AND a.ev = 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_comparable,
               CAST(SUM(conc2) AS BIGINT) AS conc2
        FROM pairs
    ), u AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(ev) AS BIGINT) AS n_events
        FROM peru
    )
    SELECT u.n_users, u.n_events, a.n_comparable,
           CASE WHEN a.n_comparable > 0
                THEN CAST(FLOOR(CAST(a.conc2 AS DOUBLE) * 1000000
                          / (2 * a.n_comparable)) AS BIGINT)
                ELSE NULL END AS c_index_e6
    FROM u, agg a
    """,
)
def events_survival_cindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARRELL'S C-INDEX for the activity-predicts-survival model
    (round 9) — the discrimination metric of the survival family
    (events_survival_km estimates the curve, events_hazard_
    nelson_aalen its slope; the C-index asks whether a COVARIATE
    actually orders the outcomes): over comparable user pairs (the
    earlier-ending user experienced the event — censored-first pairs
    are unordered and excluded, the censoring-correct rule), the
    share where higher activity (event count, the candidate
    predictor) belongs to the longer-lived user.  C≈0.5 = the
    predictor is noise; the referee asserts the fixture's activity
    signal clears it.  Ties in the predictor count ½ (Harrell's
    convention).

    Exactness: durations/flags/scores exact integers (the
    nelson_aalen duration lane); doubled concordance units
    (2·concordant + ties) keep the tie-half integral; ONE floored
    double division.

    Scale: the pair domain is an id-bounded ANCHOR PANEL (user_id <
    500 — deterministic at every SF, the agg_kendall_tau bounded-
    pairs discipline; SE ~ 1/√pairs makes the panel already ±0.01);
    C-index IS pairwise — no rank reduction exists for the censored
    comparable-pair rule — so bounding the panel is the design, not
    a shortcut."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 500)
    peru = ev.groupBy("user_id").agg(
        F.floor(
            (
                F.unix_timestamp(F.max("ts"))
                - F.unix_timestamp(F.min("ts"))
            )
            / 3600
        )
        .cast("bigint")
        .alias("t"),
        F.when(F.dayofmonth(F.max("ts")) <= 27, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("ev"),
        F.count("*").cast("bigint").alias("score"),
    )
    a = peru.select(
        F.col("t").alias("ta"),
        F.col("ev").alias("eva"),
        F.col("score").alias("sa"),
    )
    b = peru.select(
        F.col("t").alias("tb"), F.col("score").alias("sb")
    )
    pairs = a.join(
        F.broadcast(b), (F.col("ta") < F.col("tb")) & (F.col("eva") == 1)
    ).select(
        F.when(F.col("sa") < F.col("sb"), 2)
        .when(F.col("sa") == F.col("sb"), 1)
        .otherwise(0)
        .alias("conc2")
    )
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("n_comparable"),
        F.sum("conc2").cast("bigint").alias("conc2"),
    )
    u = peru.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("ev").cast("bigint").alias("n_events"),
    )
    return u.crossJoin(agg).select(
        "n_users",
        "n_events",
        "n_comparable",
        F.when(
            F.col("n_comparable") > 0,
            F.floor(
                F.col("conc2").cast("double")
                * 1000000
                / (2 * F.col("n_comparable"))
            ).cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("c_index_e6"),
    )


@query(
    "ts_sample_entropy",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), tol AS (
        SELECT event_type,
               CAST(quantile_disc(v, 0.5) // 10 AS BIGINT) AS r
        FROM daily GROUP BY event_type
    ), seq AS (
        SELECT event_type, v AS v0,
               LEAD(v, 1) OVER w AS v1,
               LEAD(v, 2) OVER w AS v2
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ), pts AS (
        SELECT event_type, v0, v1, v2,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY v0, v1, v2) AS i
        FROM seq WHERE v1 IS NOT NULL
    ), pair AS (
        SELECT a.event_type,
               CASE WHEN ABS(a.v0 - b.v0) <= t.r
                     AND ABS(a.v1 - b.v1) <= t.r THEN 1 ELSE 0 END AS m_b,
               CASE WHEN a.v2 IS NOT NULL AND b.v2 IS NOT NULL
                     AND ABS(a.v0 - b.v0) <= t.r
                     AND ABS(a.v1 - b.v1) <= t.r
                     AND ABS(a.v2 - b.v2) <= t.r THEN 1 ELSE 0 END AS m_a
        FROM pts a
        JOIN pts b ON a.event_type = b.event_type AND a.i < b.i
        JOIN tol t ON t.event_type = a.event_type
    ), counts AS (
        SELECT event_type,
               CAST(SUM(m_b) AS BIGINT) AS b_count,
               CAST(SUM(m_a) AS BIGINT) AS a_count
        FROM pair GROUP BY event_type
    )
    SELECT c.event_type, t.r AS r_tol, c.b_count, c.a_count,
           CASE WHEN c.a_count > 0 AND c.b_count > 0
                THEN CAST(FLOOR(-ln(CAST(c.a_count AS DOUBLE)
                                    / c.b_count) * 1000000) AS BIGINT)
                ELSE NULL END AS sampen_e6
    FROM counts c JOIN tol t USING (event_type)
    ORDER BY c.event_type
    """,
)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE ENTROPY SampEn(m=2, r) of each daily series (round 9)
    — the regularity number the spectral family can't give:
    ts_spectral_entropy asks "is the energy concentrated in few
    frequencies", SampEn asks "does the PATTERN repeat" — low SampEn
    = a predictable series (templates that match at length 2 keep
    matching at length 3), high = each window is novel.  The
    physiology-standard irregularity screen, here ranking event
    types by behavioral predictability.  SampEn = −ln(A/B) with B =
    length-2 template matches within tolerance r, A = the same pairs
    still matching at length 3; r = median/10 (a DISCRETE integer
    tolerance — the usual 0.2σ needs a float σ; an element-derived r
    keeps the whole statistic exact).

    Exactness: daily counts, lead-tapes, the tolerance and both
    match counts are pure integers; −ln(A/B) is ONE double chain
    floored e6 (NULL when A or B is 0 — SampEn is undefined, not ∞).
    Unordered-pair counting (i<j) halves A and B together, leaving
    the ratio — and the statistic — unchanged.

    Scale: the pair domain is CALENDAR-BOUNDED per series (≤435
    pairs per type at any SF — the mann_kendall discipline); the
    per-series tapes build with keyed windows, never global ones."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").cast("bigint").alias("v"))
    tol = daily.groupBy("event_type").agg(
        F.floor(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)") / 10
        )
        .cast("bigint")
        .alias("r")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type",
        F.col("v").alias("v0"),
        F.lead("v", 1).over(w).alias("v1"),
        F.lead("v", 2).over(w).alias("v2"),
    ).filter(F.col("v1").isNotNull())
    w_i = Window.partitionBy("event_type").orderBy("v0", "v1", "v2")
    pts = seq.select(
        "event_type", "v0", "v1", "v2", F.row_number().over(w_i).alias("i")
    )
    a = pts.select(
        "event_type",
        F.col("v0").alias("a0"),
        F.col("v1").alias("a1"),
        F.col("v2").alias("a2"),
        F.col("i").alias("ia"),
    )
    b = pts.select(
        "event_type",
        F.col("v0").alias("b0"),
        F.col("v1").alias("b1"),
        F.col("v2").alias("b2"),
        F.col("i").alias("ib"),
    )
    pair = (
        a.join(b, "event_type")
        .filter(F.col("ia") < F.col("ib"))
        .join(F.broadcast(tol), "event_type")
    )
    m_b = F.when(
        (F.abs(F.col("a0") - F.col("b0")) <= F.col("r"))
        & (F.abs(F.col("a1") - F.col("b1")) <= F.col("r")),
        1,
    ).otherwise(0)
    m_a = F.when(
        F.col("a2").isNotNull()
        & F.col("b2").isNotNull()
        & (F.abs(F.col("a0") - F.col("b0")) <= F.col("r"))
        & (F.abs(F.col("a1") - F.col("b1")) <= F.col("r"))
        & (F.abs(F.col("a2") - F.col("b2")) <= F.col("r")),
        1,
    ).otherwise(0)
    counts = pair.select(
        "event_type", m_b.alias("m_b"), m_a.alias("m_a")
    ).groupBy("event_type").agg(
        F.sum("m_b").cast("bigint").alias("b_count"),
        F.sum("m_a").cast("bigint").alias("a_count"),
    )
    out = counts.join(F.broadcast(tol), "event_type")
    return out.select(
        "event_type",
        F.col("r").alias("r_tol"),
        "b_count",
        "a_count",
        F.when(
            (F.col("a_count") > 0) & (F.col("b_count") > 0),
            F.floor(
                -F.log(
                    F.col("a_count").cast("double") / F.col("b_count")
                )
                * 1000000
            ).cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("sampen_e6"),
    ).orderBy("event_type")


@query(
    "ts_pinball_loss",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(day(ts) AS BIGINT) AS dom,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, date_trunc('day', ts), day(ts)
    ), q AS (
        SELECT event_type,
               CAST(quantile_disc(v, 0.9) AS BIGINT) AS q90
        FROM daily WHERE dom <= 21 GROUP BY event_type
    ), test_days AS (
        SELECT d.event_type, d.v, q.q90,
               CASE WHEN d.v >= q.q90 THEN 9 * (d.v - q.q90)
                    ELSE q.q90 - d.v END AS loss_x10
        FROM daily d JOIN q USING (event_type)
        WHERE d.dom > 21
    )
    SELECT event_type, MAX(q90) AS q90,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(loss_x10) AS BIGINT) AS pinball_x10,
           CAST(FLOOR(CAST(SUM(loss_x10) AS DOUBLE) * 100000
                      / COUNT(*)) AS BIGINT) AS mean_pinball_e6
    FROM test_days GROUP BY event_type ORDER BY event_type
    """,
)
def ts_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PINBALL (quantile) LOSS of a P90 forecast band (round 9) —
    the eval that the point-forecast family can't do:
    ts_backtest_snaive scores a MEAN forecast with absolute error;
    capacity planning ships a QUANTILE ("provision for the P90
    day"), and the pinball loss τ·(y−q)⁺ + (1−τ)·(q−y)⁺ is the
    proper scoring rule for it — under-provisioning a P90 costs 9×
    what over-provisioning does, exactly the asymmetry the loss
    encodes.  Train = days 1–21 (the percentile_disc P90 of daily
    counts), test = the remaining calendar; per-type means rank
    which series' tails are hardest to band.

    Exactness is TOTAL until one division: with τ = 0.9 the loss
    lives in exact TENTHS — loss_x10 = 9(y−q) or (q−y), pure
    bigints (the harmonic-sixths trick); the only float is the mean,
    floored once (×10⁵ returns tenths to e6 units).

    Scale: keyed daily rollup, a |types|-row broadcast quantile
    table, one keyed finish — no windows, no pairs."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        F.dayofmonth("ts").cast("bigint").alias("dom"),
    ).agg(F.count("*").cast("bigint").alias("v"))
    q = (
        daily.filter(F.col("dom") <= 21)
        .groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)")
            .cast("bigint")
            .alias("q90")
        )
    )
    test = (
        daily.filter(F.col("dom") > 21)
        .join(F.broadcast(q), "event_type")
        .select(
            "event_type",
            "q90",
            F.when(
                F.col("v") >= F.col("q90"), 9 * (F.col("v") - F.col("q90"))
            )
            .otherwise(F.col("q90") - F.col("v"))
            .alias("loss_x10"),
        )
    )
    return (
        test.groupBy("event_type")
        .agg(
            F.max("q90").alias("q90"),
            F.count("*").cast("bigint").alias("n_test"),
            F.sum("loss_x10").cast("bigint").alias("pinball_x10"),
            F.floor(
                F.sum("loss_x10").cast("double") * 100000 / F.count("*")
            )
            .cast("bigint")
            .alias("mean_pinball_e6"),
        )
        .orderBy("event_type")
    )


_ABS_STATE = "purchase"
_ABS_ITERS = 6


def _markov_absorption_oracle_sql(iters: int = _ABS_ITERS) -> str:
    """Unrolled DuckDB oracle for the truncated absorption walk (the
    _markov_stationary_oracle_sql discipline, run jointly from every
    non-absorbing start): mass vectors live as e12 bigints keyed
    (start, state); each step multiplies by the SUB-stochastic Q
    (transitions into the absorbing state drop out), so row mass
    decays exactly by the absorbed share; every term floors through
    one double chain before the bigint sum."""
    s = _MKV_SCALE
    sql = f"""
    WITH tape AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), counts AS MATERIALIZED (
        SELECT prev_type AS f, event_type AS t, CAST(COUNT(*) AS BIGINT) AS n
        FROM tape WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), p AS MATERIALIZED (
        SELECT f, t,
               CAST(FLOOR(CAST(n AS DOUBLE) * {s}.0
                          / SUM(n) OVER (PARTITION BY f)) AS BIGINT) AS p
        FROM counts WHERE f <> '{_ABS_STATE}'
    ), q AS MATERIALIZED (
        SELECT f, t, p FROM p WHERE t <> '{_ABS_STATE}'
    ), m0 AS MATERIALIZED (
        SELECT DISTINCT f AS start, f AS st, CAST({s} AS BIGINT) AS r
        FROM p
    )"""
    for i in range(1, iters + 1):
        sql += f""", m{i} AS MATERIALIZED (
        SELECT m.start, q.t AS st,
               CAST(SUM(CAST(FLOOR(CAST(m.r AS DOUBLE) * CAST(q.p AS DOUBLE)
                             / {s}.0) AS BIGINT)) AS BIGINT) AS r
        FROM q JOIN m{i - 1} m ON m.st = q.f
        GROUP BY m.start, q.t
    )"""
    surv = " + ".join(
        f"(SELECT COALESCE(SUM(r), 0) FROM m{k} WHERE m{k}.start = s.start)"
        for k in range(0, iters)
    )
    last = (
        f"(SELECT COALESCE(SUM(r), 0) FROM m{iters}"
        f" WHERE m{iters}.start = s.start)"
    )
    sql += f"""
    SELECT s.start AS start_type,
           CAST({surv} AS BIGINT) AS expected_steps_e12,
           CAST({s} - {last} AS BIGINT) AS absorbed_e12
    FROM (SELECT DISTINCT start FROM m0) s
    ORDER BY s.start"""
    return sql


@query("events_markov_absorption", _markov_absorption_oracle_sql())
def events_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATED ABSORPTION analysis of the behavior chain (round 9)
    — the third Markov readout: transitions say what happens NEXT,
    the stationary π what the system does ALL DAY; absorption asks
    "starting from state X, how many steps until PURCHASE, and does
    the user get there at all within k?" — the conversion-horizon
    model funnels approximate (a funnel demands ONE path; the chain
    walks every loop).  E[min(T, 6)] = Σ_{{k<6}} P(T>k) via the
    sub-stochastic Q (transitions into the absorbing state removed),
    run JOINTLY from every non-absorbing start; absorbed_e12 =
    P(T ≤ 6).  Rank starts by expected steps = the "distance from
    money" ordering.

    Determinism is the events_markov_stationary discipline on the
    (start × state) mass table: Q quantizes to e12 once, every
    m·Q term floors through one double chain before the order-free
    bigint sum, survivals are exact bigint row sums — bit-exact
    against the unrolled-CTE oracle.

    Scale: ONE corpus pass builds the count matrix; the walk runs
    on ≤ |types|² broadcast cells per step — free at any SF."""
    ev = load(spark, sf_dir, "events")
    s = _MKV_SCALE
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tape = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = tape.groupBy(
        F.col("prev_type").alias("f"), F.col("event_type").alias("t")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wf = Window.partitionBy("f")
    p = (
        counts.filter(F.col("f") != _ABS_STATE)
        .select(
            "f",
            "t",
            F.floor(
                F.col("n").cast("double") * float(s)
                / F.sum("n").over(wf).cast("double")
            )
            .cast("bigint")
            .alias("p"),
        )
        .transform(materialize)
    )
    q = p.filter(F.col("t") != _ABS_STATE)
    m = p.select(F.col("f").alias("start")).distinct().select(
        "start", F.col("start").alias("st"), F.lit(s).cast("bigint").alias("r")
    )
    starts = m.select("start").distinct()
    surv_frames = []
    for k in range(_ABS_ITERS):
        surv_frames.append(
            m.groupBy("start").agg(
                F.sum("r").cast("bigint").alias(f"s{k}")
            )
        )
        m = (
            q.join(m.withColumnRenamed("st", "f2"), q.f == F.col("f2"))
            .select(
                "start",
                F.col("t").alias("st"),
                F.floor(
                    F.col("r").cast("double")
                    * F.col("p").cast("double")
                    / float(s)
                )
                .cast("bigint")
                .alias("term"),
            )
            .groupBy("start", "st")
            .agg(F.sum("term").cast("bigint").alias("r"))
            .transform(materialize)
        )
    last = m.groupBy("start").agg(
        F.sum("r").cast("bigint").alias("s_last")
    )
    out = starts
    for k, fr in enumerate(surv_frames):
        out = out.join(fr, "start", "left")
    out = out.join(last, "start", "left")
    e_steps = sum(
        (F.coalesce(F.col(f"s{k}"), F.lit(0)) for k in range(_ABS_ITERS)),
        F.lit(0),
    )
    return out.select(
        F.col("start").alias("start_type"),
        e_steps.cast("bigint").alias("expected_steps_e12"),
        (F.lit(s) - F.coalesce(F.col("s_last"), F.lit(0)))
        .cast("bigint")
        .alias("absorbed_e12"),
    ).orderBy("start_type")


@query(
    "events_exposure_fatigue",
    """
    WITH tape AS (
        SELECT user_id, ts, event_type,
               MIN(CASE WHEN event_type = 'click' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING
                         AND UNBOUNDED FOLLOWING) AS next_click_ts
        FROM events
    ), views AS (
        SELECT user_id, ts, next_click_ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts) AS exposure
        FROM tape WHERE event_type = 'view'
    ), flagged AS (
        SELECT CASE WHEN exposure = 1 THEN '01'
                    WHEN exposure = 2 THEN '02'
                    WHEN exposure <= 5 THEN '03-05'
                    WHEN exposure <= 10 THEN '06-10'
                    ELSE '11+' END AS exposure_bucket,
               CASE WHEN next_click_ts IS NOT NULL
                     AND epoch_us(next_click_ts) - epoch_us(ts)
                         <= 3600000000 THEN 1 ELSE 0 END AS clicked
        FROM views
    )
    SELECT exposure_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(clicked) AS BIGINT) AS n_clicked,
           CAST(FLOOR(CAST(SUM(clicked) AS DOUBLE) * 1000000
                      / COUNT(*)) AS BIGINT) AS ctr_e6
    FROM flagged GROUP BY exposure_bucket ORDER BY exposure_bucket
    """,
)
def events_exposure_fatigue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPOSURE-FATIGUE curve (round 9) — the diminishing-returns
    readout ad/recommendation frequency capping is built on: click-
    within-an-hour rate by each user's Nth view — a declining curve
    says further impressions burn inventory (cap exposure), a flat
    one says the cap is money left on the table.
    events_conversion_lag measures HOW LONG conversion takes;
    fatigue measures whether the Nth attempt still converts AT ALL.

    The scalable formulation is the point: the naive program joins
    each view to every later click of the same user — a per-user
    pairs² blowup on exactly the heavy users that matter.  Instead
    ONE ordered pass computes next_click_ts as MIN(CASE WHEN click)
    over the strictly-following frame (the win_pattern_match_var
    fold trick, mirrored forward), so clicked = next_click within
    3600s is a per-row predicate — O(n log n) per user, no join.

    Exactness: the click flag compares integer MICROSECONDS
    (epoch_us vs unix_micros — engine-identical on µs timestamps);
    exposure index and bucket edges are integers; CTR floors once.
    Bucket labels are zero-padded so lexicographic ORDER BY is the
    numeric order in both engines.

    Scale: two user-keyed windows + one ≤5-row rollup; never a
    self-join."""
    ev = load(spark, sf_dir, "events")
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    tape = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.min(F.when(F.col("event_type") == "click", F.col("ts")))
        .over(w_next)
        .alias("next_click_ts"),
    )
    w_exp = Window.partitionBy("user_id").orderBy("ts")
    views = tape.filter(F.col("event_type") == "view").select(
        "ts",
        "next_click_ts",
        F.row_number().over(w_exp).alias("exposure"),
    )
    bucket = (
        F.when(F.col("exposure") == 1, "01")
        .when(F.col("exposure") == 2, "02")
        .when(F.col("exposure") <= 5, "03-05")
        .when(F.col("exposure") <= 10, "06-10")
        .otherwise("11+")
    )
    clicked = F.when(
        F.col("next_click_ts").isNotNull()
        & (
            F.unix_micros(F.col("next_click_ts").cast("timestamp")) - F.unix_micros(F.col("ts").cast("timestamp"))
            <= 3600000000
        ),
        1,
    ).otherwise(0)
    flagged = views.select(
        bucket.alias("exposure_bucket"), clicked.alias("clicked")
    )
    return (
        flagged.groupBy("exposure_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_views"),
            F.sum("clicked").cast("bigint").alias("n_clicked"),
            F.floor(
                F.sum("clicked").cast("double") * 1000000 / F.count("*")
            )
            .cast("bigint")
            .alias("ctr_e6"),
        )
        .orderBy("exposure_bucket")
    )


@query(
    "events_retention_halflife",
    """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
        FROM events GROUP BY user_id
    ), offsets AS (
        SELECT DISTINCT e.user_id,
               CAST(CAST(date_trunc('day', e.ts) AS DATE) - f.d0
                    AS BIGINT) AS k
        FROM events e JOIN firsts f USING (user_id)
    ), ret AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS r
        FROM offsets WHERE k >= 1 GROUP BY k
    ), pts AS (
        SELECT k, r,
               CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1000000000) AS BIGINT)
                   AS l_e9
        FROM ret
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS sk,
               CAST(SUM(l_e9) AS BIGINT) AS sl,
               CAST(SUM(k * l_e9) AS BIGINT) AS skl,
               CAST(SUM(k * k) AS BIGINT) AS skk
        FROM pts
    )
    SELECT n,
           CAST(FLOOR(CAST(n * skl - sk * sl AS DOUBLE)
                      / CAST(n * skk - sk * sk AS DOUBLE)) AS BIGINT)
               AS slope_e9,
           CASE WHEN n * skl - sk * sl < 0
                THEN CAST(FLOOR(ln(2.0) * 1000000
                     / (-(CAST(n * skl - sk * sl AS DOUBLE)
                          / CAST(n * skk - sk * sk AS DOUBLE))
                        / 1000000000.0)) AS BIGINT)
                ELSE NULL END AS halflife_days_e6
    FROM m
    """,
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION HALF-LIFE by log-linear decay fit (round 9) — the
    one number the retention CURVE (events_retention /
    events_cohort_retention) doesn't give: fit ln(retained_k) = a +
    b·k over day offsets k ≥ 1 and read t½ = ln2/(−b) — "every t½
    days, half the remaining actives are gone", the constant
    product/finance models discount by and the cleanest
    cross-cohort comparison (two curves are hard to compare; two
    half-lives aren't).  Geometric decay is the null model; curvature
    against it is read from ts_backtest-style residuals, not here.

    Exactness: retained counts are exact distinct-aggregates; each
    ln(r_k) floors to e9 as a SINGLE-term chain (the KL per-term
    discipline — never a float sum); the OLS sums over (k, l_e9) are
    exact bigints; slope is one double division and the half-life one
    more literal chain; a non-decaying fit (slope ≥ 0) emits NULL —
    a half-life of a growing series is not a number.

    Scale: one keyed min, one distinct on (user, k), one ≤366-row
    rollup — the fit runs on the offset table."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("d0")
    )
    offsets = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.datediff(F.to_date(F.date_trunc("day", "ts")), F.col("d0"))
            .cast("bigint")
            .alias("k"),
        )
        .distinct()
    )
    ret = (
        offsets.filter(F.col("k") >= 1)
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("r"))
    )
    pts = ret.select(
        "k",
        F.floor(F.log(F.col("r").cast("double")) * 1000000000)
        .cast("bigint")
        .alias("l_e9"),
    )
    m = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum("l_e9").cast("bigint").alias("sl"),
        F.sum(F.col("k") * F.col("l_e9")).cast("bigint").alias("skl"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
    )
    num = F.col("n") * F.col("skl") - F.col("sk") * F.col("sl")
    den = F.col("n") * F.col("skk") - F.col("sk") * F.col("sk")
    slope = num.cast("double") / den.cast("double")
    return m.select(
        "n",
        F.floor(slope).cast("bigint").alias("slope_e9"),
        F.when(
            num < 0,
            F.floor(
                F.log(F.lit(2.0)) * 1000000 / (-slope / 1000000000.0)
            ).cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("halflife_days_e6"),
    )


@query(
    "events_markov_order_test",
    """
    WITH tape AS (
        SELECT user_id, event_type AS c,
               lag(event_type, 1) OVER w AS b,
               lag(event_type, 2) OVER w AS a
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), triples AS (
        SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n_abc
        FROM tape WHERE a IS NOT NULL GROUP BY a, b, c
    ), marg AS (
        SELECT a, b, c, n_abc,
               CAST(SUM(n_abc) OVER (PARTITION BY a, b) AS BIGINT) AS n_ab,
               CAST(SUM(n_abc) OVER (PARTITION BY b, c) AS BIGINT) AS n_bc,
               CAST(SUM(n_abc) OVER (PARTITION BY b) AS BIGINT) AS n_b
        FROM triples
    ), terms AS (
        SELECT n_abc,
               CAST(FLOOR(2.0 * n_abc
                          * ln(CAST(n_abc AS DOUBLE) * n_b
                               / (CAST(n_ab AS DOUBLE) * n_bc))
                          * 1000000000) AS BIGINT) AS term_e9
        FROM marg
    ), states AS (
        SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS m FROM triples
    )
    SELECT s.m AS n_states,
           CAST(SUM(t.n_abc) AS BIGINT) AS n_triples,
           CAST(SUM(t.term_e9) AS BIGINT) AS g2_e9,
           CAST(s.m * (s.m - 1) * (s.m - 1) AS BIGINT) AS df
    FROM terms t, states s
    GROUP BY s.m
    """,
)
def events_markov_order_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV ORDER likelihood-ratio test (round 9) — the model-
    selection gate under the whole Markov family: transitions,
    stationary π and the absorption walk all ASSUME order 1 (the
    next state depends only on the current one); this G² tests it
    against order 2 — G² = 2Σ n_abc·ln(n_abc·n_b/(n_ab·n_bc)),
    the conditional-independence LRT of a ⊥ c given b, χ²(m(m−1)²)
    under order-1.  Large G² says sessions carry longer memory and
    the chain summaries underfit (go to events_user_paths n-grams);
    small certifies them.

    Exactness: triple counts and all three window marginals are
    exact bigints over the ≤m³ triple table; each cell's
    2n·ln(·) term is a single literal chain floored e9 (the KL
    per-term discipline); G² is the order-free bigint sum.  Cells
    with n_abc = 0 never materialize — their term is 0.

    Scale: one tape pass (two lags on the user-keyed window), one
    keyed triple count; marginals and terms run on ≤m³ rows."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tape = ev.select(
        F.col("event_type").alias("c"),
        F.lag("event_type", 1).over(w).alias("b"),
        F.lag("event_type", 2).over(w).alias("a"),
    ).filter(F.col("a").isNotNull())
    triples = tape.groupBy("a", "b", "c").agg(
        F.count("*").cast("bigint").alias("n_abc")
    )
    w_ab = Window.partitionBy("a", "b")
    w_bc = Window.partitionBy("b", "c")
    w_b = Window.partitionBy("b")
    marg = triples.select(
        "n_abc",
        F.sum("n_abc").over(w_ab).cast("bigint").alias("n_ab"),
        F.sum("n_abc").over(w_bc).cast("bigint").alias("n_bc"),
        F.sum("n_abc").over(w_b).cast("bigint").alias("n_b"),
    )
    term = F.floor(
        2.0
        * F.col("n_abc")
        * F.log(
            F.col("n_abc").cast("double")
            * F.col("n_b")
            / (F.col("n_ab").cast("double") * F.col("n_bc"))
        )
        * 1000000000
    ).cast("bigint")
    terms = marg.select("n_abc", term.alias("term_e9"))
    m_row = triples.agg(
        F.countDistinct("b").cast("bigint").alias("m")
    )
    agg = terms.agg(
        F.sum("n_abc").cast("bigint").alias("n_triples"),
        F.sum("term_e9").cast("bigint").alias("g2_e9"),
    )
    return agg.crossJoin(F.broadcast(m_row)).select(
        F.col("m").alias("n_states"),
        "n_triples",
        "g2_e9",
        (F.col("m") * (F.col("m") - 1) * (F.col("m") - 1))
        .cast("bigint")
        .alias("df"),
    )


@query(
    "ts_haar_energy",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), idx AS (
        SELECT event_type, v,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY d) - 1 AS i
        FROM daily
    ), lvl1 AS (
        SELECT event_type, CAST(i // 2 AS BIGINT) AS j,
               CAST(SUM(CASE WHEN i % 2 = 0 THEN v END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN i % 2 = 1 THEN v END) AS BIGINT) AS b,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM idx GROUP BY event_type, i // 2
    ), d1 AS (
        SELECT event_type, j, CAST(a + b AS BIGINT) AS s2,
               CAST(a - b AS BIGINT) AS dd
        FROM lvl1 WHERE cnt = 2
    ), lvl2 AS (
        SELECT event_type, CAST(j // 2 AS BIGINT) AS j2,
               CAST(SUM(CASE WHEN j % 2 = 0 THEN s2 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN j % 2 = 1 THEN s2 END) AS BIGINT) AS b,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM d1 GROUP BY event_type, j // 2
    ), d2 AS (
        SELECT event_type, CAST(a - b AS BIGINT) AS dd
        FROM lvl2 WHERE cnt = 2
    ), e1 AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(dd * dd) AS BIGINT) AS energy1_x4
        FROM d1 GROUP BY event_type
    ), e2 AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n2,
               CAST(SUM(dd * dd) AS BIGINT) AS energy2_x16
        FROM d2 GROUP BY event_type
    )
    SELECT e1.event_type, e1.n1, e1.energy1_x4,
           e2.n2, e2.energy2_x16,
           CAST(FLOOR(CAST(e2.energy2_x16 AS DOUBLE) / 4
                      / e1.energy1_x4 * 1000000) AS BIGINT)
               AS ratio21_e6
    FROM e1 JOIN e2 USING (event_type)
    ORDER BY e1.event_type
    """,
)
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAAR WAVELET detail energy by level (round 9) — the
    multi-resolution variance decomposition between ts_acf's lag
    view and the periodogram's frequency view: level-1 details
    (adjacent-day differences, pair-averaged) carry day-to-day
    noise energy, level-2 (adjacent 2-day-block differences) the
    2–4-day swings; the level-2/level-1 ratio says WHERE the
    series' variability lives — ratios ≫ 1 mean slow regimes
    dominate (smooth before forecasting), ≪ 1 mean high-frequency
    churn (daily seasonality or noise — aggregate up).

    Exactness is TOTAL until one division: the Haar transform runs
    in SCALED units (level-1 coefficients doubled, level-2 ×4 — the
    harmonic-sixths discipline), so every coefficient and both
    energy sums are exact bigints; odd tail blocks are excluded
    (cnt = 2 gate), and the ratio rescales (÷4) in the single
    floored chain.

    Scale: one keyed daily rollup, two cascaded keyed pair
    aggregations (map-side combinable) — no windows beyond the
    per-series index, no pairs."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").cast("bigint").alias("v"))
    w = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type",
        "v",
        (F.row_number().over(w) - 1).alias("i"),
    )
    lvl1 = idx.groupBy(
        "event_type", F.floor(F.col("i") / 2).cast("bigint").alias("j")
    ).agg(
        F.sum(F.when(F.col("i") % 2 == 0, F.col("v")))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("i") % 2 == 1, F.col("v")))
        .cast("bigint")
        .alias("b"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    d1 = lvl1.filter(F.col("cnt") == 2).select(
        "event_type",
        "j",
        (F.col("a") + F.col("b")).cast("bigint").alias("s2"),
        (F.col("a") - F.col("b")).cast("bigint").alias("dd"),
    )
    lvl2 = d1.groupBy(
        "event_type", F.floor(F.col("j") / 2).cast("bigint").alias("j2")
    ).agg(
        F.sum(F.when(F.col("j") % 2 == 0, F.col("s2")))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("j") % 2 == 1, F.col("s2")))
        .cast("bigint")
        .alias("b"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    d2 = lvl2.filter(F.col("cnt") == 2).select(
        "event_type", (F.col("a") - F.col("b")).cast("bigint").alias("dd")
    )
    e1 = d1.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n1"),
        F.sum(F.col("dd") * F.col("dd")).cast("bigint").alias("energy1_x4"),
    )
    e2 = d2.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n2"),
        F.sum(F.col("dd") * F.col("dd"))
        .cast("bigint")
        .alias("energy2_x16"),
    )
    out = e1.join(e2, "event_type")
    return out.select(
        "event_type",
        "n1",
        "energy1_x4",
        "n2",
        "energy2_x16",
        F.floor(
            F.col("energy2_x16").cast("double")
            / 4
            / F.col("energy1_x4")
            * 1000000
        )
        .cast("bigint")
        .alias("ratio21_e6"),
    ).orderBy("event_type")


@query(
    "ts_regime_run_lengths",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), med AS (
        SELECT event_type,
               CAST(quantile_disc(v, 0.5) AS BIGINT) AS m
        FROM daily GROUP BY event_type
    ), flagged AS (
        SELECT d.event_type, d.d,
               CAST(CASE WHEN d.v >= m.m THEN 1 ELSE 0 END AS BIGINT)
                   AS state
        FROM daily d JOIN med m USING (event_type)
    ), keyed AS (
        SELECT event_type, state,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
               - ROW_NUMBER() OVER (PARTITION BY event_type, state
                                    ORDER BY d) AS grp
        FROM flagged
    ), runs AS (
        SELECT event_type, state, grp,
               CAST(COUNT(*) AS BIGINT) AS len
        FROM keyed GROUP BY event_type, state, grp
    )
    SELECT event_type, state,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(SUM(len) AS BIGINT) AS n_days,
           CAST(MAX(len) AS BIGINT) AS max_len,
           CAST(FLOOR(CAST(SUM(len) AS DOUBLE) * 1000000 / COUNT(*))
                AS BIGINT) AS mean_len_e6
    FROM runs GROUP BY event_type, state
    ORDER BY event_type, state
    """,
)
def ts_regime_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGIME RUN-LENGTH profile (round 9) — the persistence readout
    between agg_runs_test (one global randomness verdict) and
    ts_changepoint_cusum (locating specific shifts): split each
    daily series at its own discrete median, then profile the RUNS
    of consecutive above/below days — mean run length near the
    i.i.d. baseline (≈2) says day-over-day levels don't persist
    (momentum features are noise); long runs say regimes exist and
    regime-aware models (Page-Hinkley alarms, run-length caps on
    forecasts) will pay.  Above/below asymmetry flags skewed
    regime dynamics (slow builds, fast crashes).

    Exactness is TOTAL until one division: the median is an element
    (percentile_disc), the state flag integer, and runs come from
    the tabibitosan double-row_number key (win_gaps_islands'
    derived-key trick re-keyed by state) — lengths, counts and maxes
    all exact bigints; the mean floors once.

    Scale: keyed daily rollup + k-row broadcast medians + two
    per-series windows + keyed run rollup — no global stage."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").cast("bigint").alias("v"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("m")
    )
    flagged = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "d",
        F.when(F.col("v") >= F.col("m"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("state"),
    )
    w_all = Window.partitionBy("event_type").orderBy("d")
    w_st = Window.partitionBy("event_type", "state").orderBy("d")
    keyed = flagged.select(
        "event_type",
        "state",
        (F.row_number().over(w_all) - F.row_number().over(w_st)).alias(
            "grp"
        ),
    )
    runs = keyed.groupBy("event_type", "state", "grp").agg(
        F.count("*").cast("bigint").alias("len")
    )
    return (
        runs.groupBy("event_type", "state")
        .agg(
            F.count("*").cast("bigint").alias("n_runs"),
            F.sum("len").cast("bigint").alias("n_days"),
            F.max("len").cast("bigint").alias("max_len"),
            F.floor(
                F.sum("len").cast("double") * 1000000 / F.count("*")
            )
            .cast("bigint")
            .alias("mean_len_e6"),
        )
        .orderBy("event_type", "state")
    )


@query(
    "events_circadian_entropy",
    """
    WITH cells AS (
        SELECT user_id, CAST(hour(ts) AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, hour(ts)
    ), tot AS (
        SELECT user_id, h, c,
               CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
        FROM cells
    ), peruser AS (
        SELECT user_id,
               CAST(SUM(CAST(FLOOR(-(CAST(c AS DOUBLE) / n)
                             * ln(CAST(c AS DOUBLE) / n)
                             * 1000000000) AS BIGINT)) AS BIGINT)
                   AS h_e9,
               CAST(MAX(n) AS BIGINT) AS n_events
        FROM tot GROUP BY user_id
    ), bucketed AS (
        SELECT CAST(h_e9 * 10 // 3178053830 AS BIGINT) AS decile,
               n_events
        FROM peruser
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM bucketed GROUP BY decile ORDER BY decile
    """,
)
def events_circadian_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIRCADIAN-ENTROPY census (round 9) — the bot/automation
    signal the burst rules miss: a human's hour-of-day histogram is
    CONCENTRATED (they sleep — entropy well below ln 24); schedulers
    and scripts run flat (entropy near the ln 24 ceiling) or on one
    cron slot (near zero with high volume).  Per-user Shannon
    entropy of the 24-hour profile, bucketed into deciles of the
    [0, ln 24] range — the two TAILS of this census are the review
    queue: decile 0 with high event counts = single-slot automation,
    decile 9 = around-the-clock uniformity no human produces.
    events_velocity_rule flags the burst; this flags the SCHEDULE.

    Exactness: per-(user, hour) counts exact; each −p·ln p term
    floors e9 (the KL single-term chain) so the per-user entropy is
    an order-free bigint sum; the decile boundary divides by the
    PYTHON-floored literal ⌊ln 24·10⁹⌋ = 3178053830 with integer
    division — no engine ever computes ln 24.

    Scale: two keyed aggregations (user×hour, then user) +
    a ≤10-row census — fully map-side combinable, no windows over
    raw rows (the user-keyed margin rides the groupBy)."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "user_id", F.hour("ts").cast("bigint").alias("h")
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_u = Window.partitionBy("user_id")
    tot = cells.select(
        "user_id",
        "c",
        F.sum("c").over(w_u).cast("bigint").alias("n"),
    )
    p = F.col("c").cast("double") / F.col("n")
    peruser = tot.groupBy("user_id").agg(
        F.sum(F.floor(-p * F.log(p) * 1000000000).cast("bigint"))
        .cast("bigint")
        .alias("h_e9"),
        F.max("n").cast("bigint").alias("n_events"),
    )
    bucketed = peruser.select(
        F.floor(F.col("h_e9") * 10 / 3178053830)
        .cast("bigint")
        .alias("decile"),
        "n_events",
    )
    return (
        bucketed.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("decile")
    )


@query(
    "events_mix_drift_weekly",
    """
    WITH cells AS (
        SELECT CAST(weekofyear(ts) AS BIGINT) AS wk, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY weekofyear(ts), event_type
    ), marg AS (
        SELECT wk, event_type, c,
               CAST(SUM(c) OVER (PARTITION BY wk) AS BIGINT) AS n_w,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_t,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM cells
    ), terms AS (
        SELECT wk, event_type, c,
               CAST(FLOOR(
                   (CAST(c AS DOUBLE)
                    - CAST(n_w AS DOUBLE) * n_t / n)
                   * (CAST(c AS DOUBLE)
                      - CAST(n_w AS DOUBLE) * n_t / n)
                   / (CAST(n_w AS DOUBLE) * n_t / n)
                   * 1000000) AS BIGINT) AS dev_e6
        FROM marg
    )
    SELECT wk, CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(dev_e6) AS BIGINT) AS chi2_e6
    FROM terms GROUP BY wk ORDER BY wk
    """,
)
def events_mix_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKLY composition-drift monitor (round 9) — the chi-square
    drift table a data-quality dashboard actually plots:
    agg_chi_square tests ONE contingency table once; this emits a
    per-week χ² of the event-type MIX against the corpus-wide
    composition, so a pipeline change or bot influx shows up as the
    week its χ² jumps off the band (the week × type interaction,
    localized by week).  Composition drift is invisible to volume
    monitors — totals can hold steady while the mix rots.

    Exactness: counts and all three margins exact bigints over the
    (week × type) cell table; each cell's (observed − expected)²/
    expected evaluates in ONE literal-order double chain floored e6
    (the agg_chi_square per-cell discipline); per-week totals are
    order-free bigint sums.  Week numbering is ISO-8601 in both
    engines (weekofyear).

    Scale: one map-side count to |weeks|×|types| cells; margins and
    terms run on the cell table."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.weekofyear("ts").cast("bigint").alias("wk"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_w = Window.partitionBy("wk")
    w_t = Window.partitionBy("event_type")
    w_all = Window.partitionBy()
    marg = cells.select(
        "wk",
        "c",
        F.sum("c").over(w_w).cast("bigint").alias("n_w"),
        F.sum("c").over(w_t).cast("bigint").alias("n_t"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    e = F.col("n_w").cast("double") * F.col("n_t") / F.col("n")
    dev = F.floor(
        (F.col("c").cast("double") - e)
        * (F.col("c").cast("double") - e)
        / e
        * 1000000
    ).cast("bigint")
    terms = marg.select("wk", "c", dev.alias("dev_e6"))
    return (
        terms.groupBy("wk")
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            F.sum("dev_e6").cast("bigint").alias("chi2_e6"),
        )
        .orderBy("wk")
    )


@query(
    "ts_adstock_halfdecay",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), lagged AS (
        SELECT event_type, d, v,
               COALESCE(lag(v, 1) OVER w, 0) AS v1,
               COALESCE(lag(v, 2) OVER w, 0) AS v2,
               COALESCE(lag(v, 3) OVER w, 0) AS v3,
               COALESCE(lag(v, 4) OVER w, 0) AS v4,
               COALESCE(lag(v, 5) OVER w, 0) AS v5,
               COALESCE(lag(v, 6) OVER w, 0) AS v6
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d)
    )
    SELECT event_type, d, v,
           CAST(64 * v + 32 * v1 + 16 * v2 + 8 * v3 + 4 * v4
                + 2 * v5 + v6 AS BIGINT) AS adstock_x64,
           CAST(FLOOR(CAST(64 * v AS DOUBLE) * 1000000
                      / (64 * v + 32 * v1 + 16 * v2 + 8 * v3
                         + 4 * v4 + 2 * v5 + v6)) AS BIGINT)
               AS fresh_share_e6
    FROM lagged ORDER BY event_type, d
    """,
)
def ts_adstock_halfdecay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOMETRIC ADSTOCK transform, λ = ½, 7-day memory (round 9) —
    the marketing-mix carryover feature: today's effective pressure
    is today's volume plus half of yesterday's effective pressure,
    truncated at a week — the transform applied to spend/impressions
    BEFORE any response regression (raw daily counts understate
    carryover; adstock is the standard fix, and λ = ½ is the
    half-life-one-day special case whose weights are exact powers
    of two).  fresh_share = today's contribution to its own adstock
    — low values mean the series is riding momentum, not new
    activity (ties to ts_ewma, which is the INFINITE-memory
    normalized cousin; the truncated form is what regressions
    actually use, because it keeps the design matrix finite).

    Exactness is TOTAL until one division: with λ = ½ the 7-term
    kernel in ×64 units is integer (64, 32, …, 1 — the
    harmonic-sixths discipline again), pre-series history is a
    literal 0 (COALESCE), and only the share floors.

    Scale: one keyed daily rollup + ONE per-series window carrying
    six lags — no joins, no state beyond the frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").cast("bigint").alias("v"))
    w = Window.partitionBy("event_type").orderBy("d")
    lags = {
        f"v{j}": F.coalesce(F.lag("v", j).over(w), F.lit(0)).alias(
            f"v{j}"
        )
        for j in range(1, 7)
    }
    lagged = daily.select("event_type", "d", "v", *lags.values())
    adstock = (
        64 * F.col("v")
        + 32 * F.col("v1")
        + 16 * F.col("v2")
        + 8 * F.col("v3")
        + 4 * F.col("v4")
        + 2 * F.col("v5")
        + F.col("v6")
    )
    return lagged.select(
        "event_type",
        "d",
        "v",
        adstock.cast("bigint").alias("adstock_x64"),
        F.floor((64 * F.col("v")).cast("double") * 1000000 / adstock)
        .cast("bigint")
        .alias("fresh_share_e6"),
    ).orderBy("event_type", "d")


@query(
    "events_activation_time_to_n",
    """
    WITH ordered AS (
        SELECT user_id, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), spans AS (
        SELECT f.user_id,
               CAST(FLOOR((epoch(n5.ts) - epoch(f.ts)) / 3600)
                    AS BIGINT) AS hours_to_5
        FROM (SELECT user_id, ts FROM ordered WHERE rn = 1) f
        LEFT JOIN (SELECT user_id, ts FROM ordered WHERE rn = 5) n5
          USING (user_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(hours_to_5) AS BIGINT) AS n_activated,
           CAST(quantile_disc(hours_to_5, 0.25) AS BIGINT) AS q1_hours,
           CAST(quantile_disc(hours_to_5, 0.5) AS BIGINT) AS med_hours,
           CAST(quantile_disc(hours_to_5, 0.75) AS BIGINT) AS q3_hours,
           CAST(COUNT(*) FILTER (hours_to_5 <= 168) AS BIGINT)
               AS n_within_week,
           CAST(FLOOR(CAST(COUNT(*) FILTER (hours_to_5 <= 168)
                           AS DOUBLE) * 1000000 / COUNT(*)) AS BIGINT)
               AS week_activation_e6
    FROM spans
    """,
)
def events_activation_time_to_n(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ACTIVATION time-to-Nth-event distribution (round 9) — the
    "time to aha" metric growth teams steer by: hours from each
    user's FIRST event to their FIFTH (the activation proxy), as
    exact discrete quartiles plus the share activating within a
    week — the number onboarding changes move, upstream of the
    retention family (events_retention measures coming BACK;
    activation measures getting STARTED; a bad week-activation rate
    caps every retention curve downstream).  Users who never reach
    five events carry NULL (right-censored — counted in n_users,
    excluded from quantiles, failing the week gate).

    Exactness: the 1st/5th event pin on the (ts, event_id) total
    order; hour spans floor exact integer epochs; quartiles are
    percentile_disc elements; one floored share.

    Scale: one user-keyed rank window + a users-sized span table +
    a 1-row quantile fold — no joins beyond the keyed self-pair."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "ts", F.row_number().over(w).alias("rn")
    )
    f = ordered.filter(F.col("rn") == 1).select(
        "user_id", F.col("ts").alias("t1")
    )
    n5 = ordered.filter(F.col("rn") == 5).select(
        "user_id", F.col("ts").alias("t5")
    )
    spans = f.join(n5, "user_id", "left").select(
        F.floor(
            (
                F.unix_timestamp(F.col("t5").cast("timestamp"))
                - F.unix_timestamp(F.col("t1").cast("timestamp"))
            )
            / 3600
        )
        .cast("bigint")
        .alias("hours_to_5")
    )
    within = F.count_if(F.col("hours_to_5") <= 168).cast("bigint")
    return spans.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count("hours_to_5").cast("bigint").alias("n_activated"),
        F.expr(
            "percentile_disc(0.25) WITHIN GROUP (ORDER BY hours_to_5)"
        )
        .cast("bigint")
        .alias("q1_hours"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY hours_to_5)"
        )
        .cast("bigint")
        .alias("med_hours"),
        F.expr(
            "percentile_disc(0.75) WITHIN GROUP (ORDER BY hours_to_5)"
        )
        .cast("bigint")
        .alias("q3_hours"),
        within.alias("n_within_week"),
        F.floor(within.cast("double") * 1000000 / F.count("*"))
        .cast("bigint")
        .alias("week_activation_e6"),
    )


@query(
    "ts_kupiec_coverage_test",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(day(ts) AS BIGINT) AS dom,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, date_trunc('day', ts), day(ts)
    ), q AS (
        SELECT event_type,
               CAST(quantile_disc(v, 0.9) AS BIGINT) AS q90
        FROM daily WHERE dom <= 21 GROUP BY event_type
    ), test_days AS (
        SELECT d.event_type,
               CAST(CASE WHEN d.v > q.q90 THEN 1 ELSE 0 END AS BIGINT)
                   AS viol
        FROM daily d JOIN q USING (event_type)
        WHERE d.dom > 21
    ), c AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(viol) AS BIGINT) AS x
        FROM test_days GROUP BY event_type
    )
    SELECT event_type, n, x,
           CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 / n) AS BIGINT)
               AS viol_rate_e6,
           CAST(FLOOR(-2.0 * (
               (n - x) * ln(0.9) + x * ln(0.1)
               - (CASE WHEN n - x > 0
                       THEN (n - x) * ln(1.0 - CAST(x AS DOUBLE) / n)
                       ELSE 0.0 END)
               - (CASE WHEN x > 0
                       THEN x * ln(CAST(x AS DOUBLE) / n)
                       ELSE 0.0 END))
               * 1000000) AS BIGINT) AS lr_uc_e6
    FROM c ORDER BY event_type
    """,
)
def ts_kupiec_coverage_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KUPIEC proportion-of-failures coverage test (round 9) — the
    backtest that certifies a quantile band AFTER ts_pinball_loss
    scores it: a P90 band should be violated on 10% of test days;
    LR_uc = −2·ln[binomial likelihood at p=0.1 / at p=x̂] is χ²(1)
    under correct coverage — too MANY violations means the band
    under-provisions (the expensive direction the pinball loss
    weights 9×), too FEW means capacity money is parked.  The
    finance-regulation standard (Basel VaR backtesting), applied to
    the capacity band.

    Exactness: violation counts exact integers over the same
    train/test split as ts_pinball_loss; the LR is ONE literal-order
    double chain per series (ln(0.9)/ln(0.1) are single libm calls,
    identical cross-engine as in the entropy family), with the
    0·ln 0 = 0 boundary cases handled STRUCTURALLY by CASE, not by
    NaN propagation; one floor.

    Scale: keyed rollup + |types|-row broadcast quantiles + keyed
    count — no windows, no pairs."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        F.dayofmonth("ts").cast("bigint").alias("dom"),
    ).agg(F.count("*").cast("bigint").alias("v"))
    q = (
        daily.filter(F.col("dom") <= 21)
        .groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)")
            .cast("bigint")
            .alias("q90")
        )
    )
    test = (
        daily.filter(F.col("dom") > 21)
        .join(F.broadcast(q), "event_type")
        .select(
            "event_type",
            F.when(F.col("v") > F.col("q90"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("viol"),
        )
    )
    c = test.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("viol").cast("bigint").alias("x"),
    )
    nd, xd = F.col("n").cast("double"), F.col("x").cast("double")
    lr = -2.0 * (
        (F.col("n") - F.col("x")) * F.log(F.lit(0.9))
        + F.col("x") * F.log(F.lit(0.1))
        - F.when(
            F.col("n") - F.col("x") > 0,
            (F.col("n") - F.col("x")) * F.log(1.0 - xd / F.col("n")),
        ).otherwise(F.lit(0.0))
        - F.when(
            F.col("x") > 0, F.col("x") * F.log(xd / F.col("n"))
        ).otherwise(F.lit(0.0))
    )
    return c.select(
        "event_type",
        "n",
        "x",
        F.floor(xd * 1000000 / F.col("n")).cast("bigint").alias(
            "viol_rate_e6"
        ),
        F.floor(lr * 1000000).cast("bigint").alias("lr_uc_e6"),
    ).orderBy("event_type")


@query(
    "ts_pacf_bounded",
    """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS v,
               lag(CAST(FLOOR(value * 100) AS BIGINT), 1) OVER w AS y1,
               lag(CAST(FLOOR(value * 100) AS BIGINT), 2) OVER w AS y2,
               lag(CAST(FLOOR(value * 100) AS BIGINT), 3) OVER w AS y3
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), pairs AS (
        SELECT event_type, CAST(1 AS BIGINT) AS lag_k, v AS x, y1 AS y
        FROM base WHERE y1 IS NOT NULL
        UNION ALL
        SELECT event_type, 2, v, y2 FROM base WHERE y2 IS NOT NULL
        UNION ALL
        SELECT event_type, 3, v, y3 FROM base WHERE y3 IS NOT NULL
    ), stats AS (
        SELECT event_type, lag_k,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1, 2
    ), acf AS (
        SELECT event_type, lag_k,
               CAST(FLOOR(
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   * 1000000) AS BIGINT) AS acf_e6
        FROM stats
    ), rho AS (
        SELECT event_type,
               MAX(CASE WHEN lag_k = 1 THEN acf_e6 END) / 1000000.0
                   AS r1,
               MAX(CASE WHEN lag_k = 2 THEN acf_e6 END) / 1000000.0
                   AS r2,
               MAX(CASE WHEN lag_k = 3 THEN acf_e6 END) / 1000000.0
                   AS r3
        FROM acf GROUP BY event_type
    )
    SELECT event_type,
           CAST(FLOOR(r1 * 1000000) AS BIGINT) AS pacf1_e6,
           CAST(FLOOR((r2 - r1 * r1) / (1.0 - r1 * r1) * 1000000)
                AS BIGINT) AS pacf2_e6,
           CAST(FLOOR(
               (r3 - (r1 - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1) * r2
                - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1)
               / (1.0 - (r1 - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1)
                        * r1
                  - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2)
               * 1000000) AS BIGINT) AS pacf3_e6
    FROM rho ORDER BY event_type
    """,
)
def ts_pacf_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL autocorrelation at lags 1–3 by Durbin–Levinson (round
    9) — the Box–Jenkins order-selection companion ts_acf can't be:
    ACF says WHETHER lag k correlates, PACF says whether it adds
    anything AFTER lags 1..k−1 are regressed out — an AR(p) series
    has PACF ≈ 0 beyond lag p, which is THE rule for choosing p
    (ACF tails off uselessly on AR processes).  φ₁₁ = ρ₁, φ₂₂ =
    (ρ₂−ρ₁²)/(1−ρ₁²), φ₃₃ via the level-3 recursion with φ₂₁ =
    φ₁₁ − φ₂₂φ₁₁.

    Exactness: the ρ inputs are ts_acf's floored e6 values (both
    engines start the recursion from IDENTICAL quantized integers —
    the already-quantized-input discipline from agg_hill_numbers'
    exp), and each φ is one literal-order double chain floored e6.

    Scale: the acf moment machinery verbatim (per-series lag tapes,
    keyed aggregates); the recursion runs on a |types|×3 table."""
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = ev.select(
        "event_type",
        v.alias("v"),
        F.lag(v, 1).over(w).alias("y1"),
        F.lag(v, 2).over(w).alias("y2"),
        F.lag(v, 3).over(w).alias("y3"),
    )
    frames = []
    for k in (1, 2, 3):
        frames.append(
            base.filter(F.col(f"y{k}").isNotNull()).select(
                "event_type",
                F.lit(k).cast("bigint").alias("lag_k"),
                F.col("v").alias("x"),
                F.col(f"y{k}").alias("y"),
            )
        )
    pairs = frames[0].unionByName(frames[1]).unionByName(frames[2])
    stats = pairs.groupBy("event_type", "lag_k").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    acf = stats.select(
        "event_type",
        "lag_k",
        F.floor(
            (d("n") * d("sxy") - d("sx") * d("sy"))
            / F.sqrt(
                (d("n") * d("sxx") - d("sx") * d("sx"))
                * (d("n") * d("syy") - d("sy") * d("sy"))
            )
            * 1000000
        )
        .cast("bigint")
        .alias("acf_e6"),
    )
    rho = acf.groupBy("event_type").agg(
        (F.max(F.when(F.col("lag_k") == 1, F.col("acf_e6"))) / 1000000.0)
        .alias("r1"),
        (F.max(F.when(F.col("lag_k") == 2, F.col("acf_e6"))) / 1000000.0)
        .alias("r2"),
        (F.max(F.when(F.col("lag_k") == 3, F.col("acf_e6"))) / 1000000.0)
        .alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    phi21 = r1 - phi22 * r1
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / (
        1.0 - phi21 * r1 - phi22 * r2
    )
    return rho.select(
        "event_type",
        F.floor(r1 * 1000000).cast("bigint").alias("pacf1_e6"),
        F.floor(phi22 * 1000000).cast("bigint").alias("pacf2_e6"),
        F.floor(phi33 * 1000000).cast("bigint").alias("pacf3_e6"),
    ).orderBy("event_type")


@query(
    "ts_arch_effect_lm1",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), chg AS (
        SELECT event_type, d,
               CAST(v - lag(v) OVER (PARTITION BY event_type
                                     ORDER BY d) AS BIGINT) AS dv
        FROM daily
    ), sq AS (
        SELECT event_type, d, CAST(dv * dv AS BIGINT) AS s
        FROM chg WHERE dv IS NOT NULL
    ), lagged AS (
        SELECT event_type, s,
               lag(s) OVER (PARTITION BY event_type ORDER BY d) AS s1
        FROM sq
    ), m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(s1) AS BIGINT) AS sx,
               CAST(SUM(s) AS BIGINT) AS sy,
               SUM(CAST(s1 AS HUGEINT) * s) AS sxy,
               SUM(CAST(s1 AS HUGEINT) * s1) AS sxx,
               SUM(CAST(s AS HUGEINT) * s) AS syy
        FROM lagged WHERE s1 IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(FLOOR(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
               * CAST(n AS DOUBLE) * 1000000) AS BIGINT) AS lm_e6
    FROM m ORDER BY event_type
    """,
)
def ts_arch_effect_lm1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGLE'S ARCH-LM test at lag 1 (round 9) — the volatility-
    clustering screen the level diagnostics miss: a series can pass
    every mean test (acf/pacf ≈ 0) while its squared CHANGES
    autocorrelate — calm days follow calm days, wild follow wild —
    and then every constant-variance band (Bollinger, ±3σ control
    charts, the Kupiec-certified P90) is wrong in exactly the calm
    and wild stretches.  LM = n·R² of s_t on s_{t−1} (s = squared
    day-over-day change), χ²(1) under homoskedasticity; significant
    LM says switch to regime-aware bands (ts_regime_run_lengths
    shows the regimes).

    Exactness: changes and squares exact integers; the cross moments
    run 128-bit (s² is fourth-power scale — int64 dies at ~55k daily
    events); R² = corr² clears to one literal-order double chain
    with the acf numerator squared, floored once with the n factor
    inside.

    Scale: keyed daily rollup + two per-series lag windows + one
    keyed moment aggregate."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").cast("bigint").alias("v"))
    w = Window.partitionBy("event_type").orderBy("d")
    chg = daily.select(
        "event_type",
        "d",
        (F.col("v") - F.lag("v").over(w)).cast("bigint").alias("dv"),
    ).filter(F.col("dv").isNotNull())
    sq = chg.select(
        "event_type", "d", (F.col("dv") * F.col("dv")).cast("bigint").alias("s")
    )
    lagged = sq.select(
        "event_type",
        "s",
        F.lag("s").over(w).alias("s1"),
    ).filter(F.col("s1").isNotNull())
    dec = "decimal(38,0)"
    m = lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("sx"),
        F.sum("s").cast("bigint").alias("sy"),
        F.sum(F.col("s1").cast(dec) * F.col("s")).alias("sxy"),
        F.sum(F.col("s1").cast(dec) * F.col("s1")).alias("sxx"),
        F.sum(F.col("s").cast(dec) * F.col("s")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    lm = (
        num
        * num
        / (d("n") * d("sxx") - d("sx") * d("sx"))
        / (d("n") * d("syy") - d("sy") * d("sy"))
        * d("n")
        * 1000000
    )
    return m.select(
        "event_type",
        "n",
        F.floor(lm).cast("bigint").alias("lm_e6"),
    ).orderBy("event_type")


@query(
    "ts_turning_points",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), lagged AS (
        SELECT event_type, x,
               lag(x) OVER (PARTITION BY event_type ORDER BY d) AS p,
               lead(x) OVER (PARTITION BY event_type ORDER BY d) AS q
        FROM daily
    ), s AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(COUNT(*) FILTER (p IS NOT NULL AND q IS NOT NULL
                    AND ((x > p AND x > q) OR (x < p AND x < q)))
                    AS BIGINT) AS n_turning
        FROM lagged GROUP BY 1
    )
    SELECT event_type, n_days, n_turning,
           CAST(2 * (n_days - 2) AS BIGINT) AS exp_x3,
           CAST(16 * n_days - 29 AS BIGINT) AS var_x90,
           CASE WHEN 16 * n_days - 29 > 0 THEN
               CAST(FLOOR(
                   (CAST(n_turning AS DOUBLE)
                    - 2.0 * (n_days - 2) / 3.0)
                   / sqrt((16.0 * n_days - 29.0) / 90.0)
                   * 1000000) AS BIGINT)
           ELSE NULL END AS z_e6
    FROM s ORDER BY event_type
    """,
)
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TURNING-POINTS randomness test (round 10) on the daily count
    tape per event type: count interior days that are a strict local
    peak or trough; under i.i.d. continuity E[T] = 2(n−2)/3 and
    Var[T] = (16n−29)/90, so z reads directly — too FEW turning
    points means positive persistence (trends), too MANY means
    high-frequency alternation (negative autocorrelation).  The
    cheapest member of the randomness family and the one field QA
    teams run first: agg_runs_test needs a median dichotomy,
    ts_acf a full correlogram; turning points need one lag/lead
    window.  Ties (equal neighbors) are not turning points — strict
    comparisons, deterministic on integer counts (the continuity
    assumption's discrete cost is a conservative bias the z shares
    in both engines identically).

    Exactness: T, 3·E and 90·Var are exact integers; z is one double
    chain floored e6.

    Scale: map-side daily rollup, one keyed two-sided window over
    calendar-bounded rows, one keyed count."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x").over(w).alias("p"),
        F.lead("x").over(w).alias("q"),
    )
    turning = (
        F.col("p").isNotNull()
        & F.col("q").isNotNull()
        & (
            ((F.col("x") > F.col("p")) & (F.col("x") > F.col("q")))
            | ((F.col("x") < F.col("p")) & (F.col("x") < F.col("q")))
        )
    )
    s = lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.count_if(turning).cast("bigint").alias("n_turning"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    z = (d("n_turning") - 2.0 * (d("n_days") - 2) / 3.0) / F.sqrt(
        (16.0 * d("n_days") - 29.0) / 90.0
    )
    return s.select(
        "event_type",
        "n_days",
        "n_turning",
        (2 * (F.col("n_days") - 2)).cast("bigint").alias("exp_x3"),
        (16 * F.col("n_days") - 29).cast("bigint").alias("var_x90"),
        F.when(
            16 * F.col("n_days") - 29 > 0,
            F.floor(z * 1000000).cast("bigint"),
        ).alias("z_e6"),
    ).orderBy("event_type")


@query(
    "ts_cusum_squares",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                          AS DOUBLE) / COUNT(*)) AS BIGINT) AS m_e4
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m_e4) AS BIGINT) AS s
        FROM daily GROUP BY 1
    ), cent AS (
        SELECT d.event_type, d.day, t.n, t.s,
               (t.n * d.m_e4 - t.s) * (t.n * d.m_e4 - t.s) AS c
        FROM daily d JOIN tot t ON d.event_type = t.event_type
    ), pfx AS (
        SELECT event_type, n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS r,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS a,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT)
                   AS b
        FROM cent
    )
    SELECT event_type, n, CAST(MAX(b) AS BIGINT) AS ss_total,
           CAST(MAX(ABS(n * a - r * b)) AS BIGINT) AS max_dev_num,
           CASE WHEN MAX(b) > 0 THEN
               CAST(FLOOR(CAST(MAX(ABS(n * a - r * b)) AS DOUBLE)
                          / (CAST(n AS DOUBLE) * MAX(b)) * 1000000)
                    AS BIGINT)
           ELSE NULL END AS cusum_sq_stat_e6
    FROM pfx GROUP BY event_type, n ORDER BY event_type
    """,
)
def ts_cusum_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-OF-SQUARES variance-stability test (round 10),
    Brown-Durbin-Evans: plot the cumulative share of squared
    deviations S_r = Σ_{i≤r}e_i²/Σe² against the uniform line r/n —
    the max gap is the test statistic, and WHERE it peaks is where
    the VARIANCE regime changed.  Completes the change-detection
    family along the second moment: ts_changepoint_cusum /
    ts_page_hinkley watch the MEAN, ts_arch_effect_lm1 tests
    clustering globally; CUSUM² localizes a variance break (a
    deploy that made a metric noisier without moving its level —
    invisible to every mean-based monitor).

    Exactness: deviations are CLEARED of the fractional mean —
    e_i ∝ n·m_i − S exact bigint, c_i = (n·m_i − S)² exact (≈2e14 at
    this value scale, 4 decades of int64 headroom), prefix sums A_r
    and total B exact via one keyed ordered window; the max gap
    numerator max|n·A_r − r·B| is integer MAX, ONE double division
    at the end.

    Scale: map-side daily rollup + one keyed ordered window over
    calendar-bounded rows — the Page-Hinkley shape with squares."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    ).agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 10000).cast("bigint")).cast("double")
            / F.count("*")
        )
        .cast("bigint")
        .alias("m_e4")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("m_e4").cast("bigint").alias("s"),
    )
    cent = daily.join(tot, "event_type").select(
        "event_type",
        "day",
        "n",
        (
            (F.col("n") * F.col("m_e4") - F.col("s"))
            * (F.col("n") * F.col("m_e4") - F.col("s"))
        ).alias("c"),
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    pfx = cent.select(
        "event_type",
        "n",
        F.row_number().over(wo).alias("r"),
        F.sum("c")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("a"),
        F.sum("c").over(wa).cast("bigint").alias("b"),
    )
    g = pfx.groupBy("event_type", "n").agg(
        F.max("b").cast("bigint").alias("ss_total"),
        F.max(F.abs(F.col("n") * F.col("a") - F.col("r") * F.col("b")))
        .cast("bigint")
        .alias("max_dev_num"),
    )
    return g.select(
        "event_type",
        "n",
        "ss_total",
        "max_dev_num",
        F.when(
            F.col("ss_total") > 0,
            F.floor(
                F.col("max_dev_num").cast("double")
                / (F.col("n").cast("double") * F.col("ss_total"))
                * 1000000
            ).cast("bigint"),
        ).alias("cusum_sq_stat_e6"),
    ).orderBy("event_type")


@query(
    "ts_seasonal_mann_kendall",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               dayofweek(ts) AS season,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2, 3
    ), strata_s AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_total
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.season = b.season
         AND a.d < b.d
        GROUP BY a.event_type
    ), strata_var AS (
        SELECT event_type,
               CAST(SUM(nv) AS BIGINT) AS var_x18,
               CAST(SUM(ns) AS BIGINT) AS n_days
        FROM (
            SELECT event_type, season,
                   SUM(t) * (SUM(t) - 1) * (2 * SUM(t) + 5)
                       - SUM(t * (t - 1) * (2 * t + 5)) AS nv,
                   SUM(t) AS ns
            FROM (
                SELECT event_type, season, x,
                       CAST(COUNT(*) AS BIGINT) AS t
                FROM daily GROUP BY 1, 2, 3
            ) GROUP BY event_type, season
        ) GROUP BY event_type
    )
    SELECT s.event_type, v.n_days, s.s_total, v.var_x18,
           CASE WHEN v.var_x18 > 0 THEN
               CAST(FLOOR(
                   CASE WHEN s.s_total > 0
                        THEN CAST(s.s_total AS DOUBLE) - 1.0
                        WHEN s.s_total < 0
                        THEN CAST(s.s_total AS DOUBLE) + 1.0
                        ELSE 0.0 END
                   / sqrt(CAST(v.var_x18 AS DOUBLE) / 18.0)
                   * 1000000) AS BIGINT)
           ELSE NULL END AS z_e6
    FROM strata_s s JOIN strata_var v USING (event_type)
    ORDER BY s.event_type
    """,
)
def ts_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL MANN-KENDALL trend test (round 10), Hirsch-Slack: the
    weekly-seasonal upgrade of agg_mann_kendall_trend — compare days
    only WITHIN the same weekday stratum (Monday vs Monday), then
    pool S and Var across the 7 strata.  Plain MK on weekly-seasonal
    data reads the seasonal cycle as noise (or worse, as trend when
    the window is a partial week); the seasonal variant removes the
    cycle WITHOUT estimating it — the standard for environmental /
    traffic monitoring and exactly what events dashboards need on
    weekday-skewed counts.

    Exactness: the agg_mann_kendall_trend discipline per stratum —
    within-stratum sign sums and tie terms n(n−1)(2n+5) − Σt(t−1)
    (2t+5) exact bigints, pooled by plain integer addition (the
    strata are independent under H₀, so variances ADD); one
    continuity-corrected double chain for z.

    Scale: pair domain is calendar-bounded per stratum (≤C(5,2)·7
    pairs per series at a 30-day window), broadcast-trivial at any
    SF; the corpus-scale stage is the one map-side daily rollup."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        (F.dayofweek("ts")).alias("season"),
    ).agg(F.count("*").cast("bigint").alias("x"))
    a = daily.alias("a")
    b = daily.alias("b")
    sgn = (
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
    )
    strata_s = (
        a.join(
            F.broadcast(b),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.season") == F.col("b.season"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum(sgn).cast("bigint").alias("s_total"))
    )
    per_stratum = (
        daily.groupBy("event_type", "season", "x")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("event_type", "season")
        .agg(
            (
                F.sum("t") * (F.sum("t") - 1) * (2 * F.sum("t") + 5)
                - F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            ).alias("nv"),
            F.sum("t").alias("ns"),
        )
    )
    strata_var = per_stratum.groupBy("event_type").agg(
        F.sum("nv").cast("bigint").alias("var_x18"),
        F.sum("ns").cast("bigint").alias("n_days"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = (
        F.when(F.col("s_total") > 0, d("s_total") - 1.0)
        .when(F.col("s_total") < 0, d("s_total") + 1.0)
        .otherwise(F.lit(0.0))
    )
    return (
        strata_s.join(strata_var, "event_type")
        .select(
            "event_type",
            "n_days",
            "s_total",
            "var_x18",
            F.when(
                F.col("var_x18") > 0,
                F.floor(num / F.sqrt(d("var_x18") / 18.0) * 1000000).cast(
                    "bigint"
                ),
            ).alias("z_e6"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_records_test",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), rec AS (
        SELECT event_type, x,
               max(x) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prevmax
        FROM daily
    ), s AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(COUNT(*) FILTER (prevmax IS NULL OR x > prevmax)
                    AS BIGINT) AS n_records
        FROM rec GROUP BY 1
    ), h AS (
        SELECT event_type,
               CAST(SUM(1000000000000 // i) AS BIGINT) AS h1_e12,
               CAST(SUM(1000000000000 // (i * i)) AS BIGINT) AS h2_e12
        FROM (
            SELECT event_type,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY d) AS BIGINT) AS i
            FROM daily
        ) GROUP BY event_type
    )
    SELECT s.event_type, s.n_days, s.n_records, h.h1_e12, h.h2_e12,
           CASE WHEN h.h1_e12 - h.h2_e12 > 0 THEN
               CAST(FLOOR(
                   (CAST(s.n_records AS DOUBLE) - h.h1_e12 / 1e12)
                   / sqrt((CAST(h.h1_e12 AS DOUBLE) - h.h2_e12) / 1e12)
                   * 1000000) AS BIGINT)
           ELSE NULL END AS z_e6
    FROM s JOIN h ON s.event_type = h.event_type
    ORDER BY s.event_type
    """,
)
def ts_records_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORDS test for trend (round 10): count strict running-maximum
    days R in the daily tape; under exchangeability E[R] = H_n (the
    harmonic number — records get exponentially rarer) and Var[R] =
    H_n − H_n⁽²⁾, so "3 record days this month" is quantifiable
    surprise.  The test win_record_highs (which ENUMERATES records)
    was missing: this is its inferential readout, and the only trend
    test in the family driven purely by EXTREMES — MK/Theil-Sen read
    the bulk, records fire on new-peak behavior even when the median
    is flat (capacity planning's actual concern).

    Exactness: the harmonic numbers are the trap — a naive SUM(1/i)
    is order-dependent in both engines; instead each term floors to
    e12 FIRST (1e12 // i, exact integer division) and the order-free
    bigint sums H₁ᵉ¹²/H₂ᵉ¹² feed one double chain for z.  Record
    counting is integer window max, strict (>).

    Scale: map-side daily rollup + one keyed running-max window; the
    harmonic series expands n ≤ |calendar| rows per series."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rec = daily.select(
        "event_type", "x", F.max("x").over(w).alias("prevmax")
    )
    s = rec.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.count_if(F.col("prevmax").isNull() | (F.col("x") > F.col("prevmax")))
        .cast("bigint")
        .alias("n_records"),
    )
    h = s.select(
        "event_type",
        F.expr(
            "aggregate(sequence(1, CAST(n_days AS INT)), 0L,"
            " (acc, i) -> acc + 1000000000000L DIV i)"
        )
        .cast("bigint")
        .alias("h1_e12"),
        F.expr(
            "aggregate(sequence(1, CAST(n_days AS INT)), 0L,"
            " (acc, i) -> acc + 1000000000000L DIV (CAST(i AS BIGINT) * i))"
        )
        .cast("bigint")
        .alias("h2_e12"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    z = (d("n_records") - d("h1_e12") / 1e12) / F.sqrt(
        (d("h1_e12") - d("h2_e12")) / 1e12
    )
    return (
        s.join(h, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_records",
            "h1_e12",
            "h2_e12",
            F.when(
                F.col("h1_e12") - F.col("h2_e12") > 0,
                F.floor(z * 1000000).cast("bigint"),
            ).alias("z_e6"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_mase",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), lagged AS (
        SELECT event_type, x,
               lag(x, 1) OVER (PARTITION BY event_type ORDER BY d) AS x1,
               lag(x, 7) OVER (PARTITION BY event_type ORDER BY d) AS x7
        FROM daily
    ), s AS (
        SELECT event_type,
               CAST(COUNT(x1) AS BIGINT) AS n_naive,
               CAST(SUM(ABS(x - x1)) AS BIGINT) AS sae_naive,
               CAST(COUNT(x7) AS BIGINT) AS n_snaive,
               CAST(SUM(ABS(x - x7)) AS BIGINT) AS sae_snaive
        FROM lagged GROUP BY 1
    )
    SELECT event_type, n_naive, sae_naive, n_snaive, sae_snaive,
           CASE WHEN sae_naive > 0 AND n_snaive > 0 THEN
               CAST(FLOOR(CAST(sae_snaive AS DOUBLE) * n_naive
                          / (CAST(sae_naive AS DOUBLE) * n_snaive)
                          * 1000000) AS BIGINT)
           ELSE NULL END AS mase_e6
    FROM s ORDER BY event_type
    """,
)
def ts_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE — mean absolute SCALED error (round 10), Hyndman's
    forecast-eval standard: the seasonal-naive forecast's MAE scaled
    by the one-step naive MAE on the same series.  MASE < 1 means
    the weekly-seasonal forecaster beats "tomorrow = today"; > 1
    means the seasonality is not worth modeling — the
    unit-free, division-safe readout that makes error comparable
    ACROSS series of different magnitude (per-series MAPE dies on
    zero days, raw MAE can't rank a 10/day series against a
    10k/day one).  Scores ts_backtest_snaive's forecaster with the
    denominator discipline ts_pinball_loss applies to quantiles.

    Exactness: both sums of absolute integer differences are exact
    bigints; MASE is one double chain (cross-multiplied counts, one
    floor).

    Scale: map-side daily rollup + one keyed window carrying both
    lags in a single exchange + one keyed aggregate."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 7).over(w).alias("x7"),
    )
    s = lagged.groupBy("event_type").agg(
        F.count("x1").cast("bigint").alias("n_naive"),
        F.sum(F.abs(F.col("x") - F.col("x1"))).cast("bigint").alias("sae_naive"),
        F.count("x7").cast("bigint").alias("n_snaive"),
        F.sum(F.abs(F.col("x") - F.col("x7")))
        .cast("bigint")
        .alias("sae_snaive"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mase = d("sae_snaive") * d("n_naive") / (d("sae_naive") * d("n_snaive"))
    return s.select(
        "event_type",
        "n_naive",
        "sae_naive",
        "n_snaive",
        "sae_snaive",
        F.when(
            (F.col("sae_naive") > 0) & (F.col("n_snaive") > 0),
            F.floor(mase * 1000000).cast("bigint"),
        ).alias("mase_e6"),
    ).orderBy("event_type")


@query(
    "events_survival_logrank",
    """
    WITH peru AS (
        SELECT user_id,
               CAST('0x' || substr(md5('exp42_' || CAST(user_id AS VARCHAR)),
                                   1, 7) AS BIGINT) % 2 AS arm,
               CAST(FLOOR((epoch(MAX(ts)) - epoch(MIN(ts))) / 3600)
                    AS BIGINT) AS t,
               CAST(CASE WHEN day(MAX(ts)) <= 27 THEN 1 ELSE 0 END
                    AS BIGINT) AS ev
        FROM events GROUP BY user_id
    ), times AS (
        SELECT t,
               CAST(COUNT(*) FILTER (ev = 1) AS BIGINT) AS d,
               CAST(COUNT(*) FILTER (ev = 1 AND arm = 1) AS BIGINT)
                   AS d1,
               CAST(COUNT(*) AS BIGINT) AS c_at,
               CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS c1_at
        FROM peru GROUP BY t
    ), risk AS (
        SELECT t, d, d1,
               CAST(SUM(c_at) OVER (ORDER BY t DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
               CAST(SUM(c1_at) OVER (ORDER BY t DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1_risk
        FROM times
    ), terms AS (
        SELECT t, d, d1, n_risk, n1_risk,
               CAST(FLOOR(CAST(d AS DOUBLE) * n1_risk / n_risk
                          * 1000000000) AS BIGINT) AS e1_e9,
               CASE WHEN n_risk > 1 THEN
                   CAST(FLOOR(CAST(d AS DOUBLE) * n1_risk
                              * (n_risk - n1_risk) * (n_risk - d)
                              / (CAST(n_risk AS DOUBLE) * n_risk
                                 * (n_risk - 1))
                              * 1000000000) AS BIGINT)
               ELSE 0 END AS v_e9
        FROM risk WHERE d > 0
    )
    SELECT CAST(COALESCE(SUM(d1), 0) AS BIGINT) AS o1,
           CAST(COALESCE(SUM(e1_e9), 0) AS BIGINT) AS e1_e9,
           CAST(COALESCE(SUM(v_e9), 0) AS BIGINT) AS v_e9,
           CASE WHEN COALESCE(SUM(v_e9), 0) > 0 THEN
               CAST(FLOOR((CAST(SUM(d1) AS DOUBLE)
                           - SUM(e1_e9) / 1000000000.0)
                          * (CAST(SUM(d1) AS DOUBLE)
                             - SUM(e1_e9) / 1000000000.0)
                          / (SUM(v_e9) / 1000000000.0)
                          * 1000000) AS BIGINT)
           ELSE NULL END AS logrank_chi2_e6
    FROM terms
    """,
)
def events_survival_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST between the two hash arms' survival curves
    (round 10) — the standard two-group censored-time test and the
    missing INFERENTIAL member of the survival kit: events_survival_km
    draws the curves, events_hazard_nelson_aalen integrates the
    hazard, events_survival_cindex ranks a score; log-rank answers
    "are these two curves the SAME curve?" without any distributional
    assumption.  At each event time, arm 1's observed deaths compare
    against the hypergeometric expectation d·n₁/n with variance
    d·n₁(n−n₁)(n−d)/(n²(n−1)); χ² = (O−E)²/V on one degree of
    freedom.  Arms are the frozen exp42 md5 user hash (the
    events_ab_srm discipline), so under this null the statistic
    referee-hugs χ²(1) — wiring it to a real treatment flag is a
    one-line change.  Durations and censoring mirror
    events_hazard_nelson_aalen exactly (first→last span hours;
    final-3-day actives censored).

    Exactness: death counts and both at-risk reverse-cumulatives are
    exact integers; each time's expectation and variance floor e9 as
    single chains; the final χ² is one double chain over the three
    exact sums.

    Scale: one keyed user aggregate + windows over the bounded
    distinct-duration tape — the Nelson-Aalen plan with one more
    stratified count riding the same exchange."""
    ev = load(spark, sf_dir, "events")
    arm = md5_int(F.lit("exp42_"), F.col("user_id").cast("string"), digits=7) % 2
    peru = ev.groupBy("user_id").agg(
        F.floor(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            / 3600
        )
        .cast("bigint")
        .alias("t"),
        F.when(F.dayofmonth(F.max("ts")) <= 27, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("ev"),
    ).withColumn("arm", arm)
    times = peru.groupBy("t").agg(
        F.count_if(F.col("ev") == 1).cast("bigint").alias("d"),
        F.count_if((F.col("ev") == 1) & (F.col("arm") == 1))
        .cast("bigint")
        .alias("d1"),
        F.count("*").cast("bigint").alias("c_at"),
        F.count_if(F.col("arm") == 1).cast("bigint").alias("c1_at"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = times.select(
        "t",
        "d",
        "d1",
        F.sum("c_at").over(w_desc).cast("bigint").alias("n_risk"),
        F.sum("c1_at").over(w_desc).cast("bigint").alias("n1_risk"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    terms = risk.filter(F.col("d") > 0).select(
        "d1",
        F.floor(d("d") * F.col("n1_risk") / F.col("n_risk") * 1e9)
        .cast("bigint")
        .alias("e1_e9"),
        F.when(
            F.col("n_risk") > 1,
            F.floor(
                d("d")
                * F.col("n1_risk")
                * (F.col("n_risk") - F.col("n1_risk"))
                * (F.col("n_risk") - F.col("d"))
                / (d("n_risk") * F.col("n_risk") * (F.col("n_risk") - 1))
                * 1e9
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("v_e9"),
    )
    g = terms.agg(
        F.coalesce(F.sum("d1"), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("e1_e9"), F.lit(0)).cast("bigint").alias("e1_e9"),
        F.coalesce(F.sum("v_e9"), F.lit(0)).cast("bigint").alias("v_e9"),
    )
    gap = F.col("o1").cast("double") - F.col("e1_e9") / 1e9
    return g.select(
        "o1",
        "e1_e9",
        "v_e9",
        F.when(
            F.col("v_e9") > 0,
            F.floor(gap * gap / (F.col("v_e9") / 1e9) * 1000000).cast(
                "bigint"
            ),
        ).alias("logrank_chi2_e6"),
    )


@query(
    "ts_missing_data_census",
    """
    WITH daily AS (
        SELECT DISTINCT event_type, CAST(ts AS DATE) AS d
        FROM events
    ), bounds AS (
        SELECT event_type, MIN(d) AS d0, MAX(d) AS d1,
               CAST(COUNT(*) AS BIGINT) AS n_present,
               CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS BIGINT)
                   AS span_days
        FROM daily GROUP BY 1
    ), gaps AS (
        SELECT event_type,
               CAST(date_diff('day',
                    lag(d) OVER (PARTITION BY event_type ORDER BY d), d)
                    - 1 AS BIGINT) AS gap
        FROM daily
    )
    SELECT b.event_type, b.n_present, b.span_days,
           b.span_days - b.n_present AS n_missing,
           CAST(b.n_present * 1000000 // b.span_days AS BIGINT)
               AS coverage_e6,
           CAST(COALESCE(MAX(g.gap), 0) AS BIGINT) AS longest_gap_days,
           CAST(COALESCE(COUNT(*) FILTER (g.gap > 0), 0) AS BIGINT)
               AS n_gaps
    FROM bounds b LEFT JOIN gaps g ON g.event_type = b.event_type
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY b.event_type
    """,
)
def ts_missing_data_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MISSING-DATA census per series (round 10): presence span,
    missing-day count, coverage share, number of gaps and the LONGEST
    gap — the audit that must run BEFORE date_spine_fill /
    ts_interpolate_linear / ts_resample_locf choose a fill strategy:
    LOCF across a 1-day hole is fine, across a 9-day hole it
    manufactures fiction, and every downstream seasonal statistic
    (ts_acf, seasonality, Holt) silently degrades with coverage.
    This is the fill-policy DECISION table; the fill operators are
    its executors.

    ZERO floats: calendar day arithmetic, exact counts, and coverage
    as one exact integer division.

    Scale: distinct (type, day) reduction map-side, one keyed lag
    window over the calendar-bounded tape, one keyed rollup."""
    ev = load(spark, sf_dir, "events")
    daily = ev.select(
        "event_type", F.to_date("ts").alias("d")
    ).distinct()
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"),
        F.max("d").alias("d1"),
        F.count("*").cast("bigint").alias("n_present"),
        (F.datediff(F.max("d"), F.min("d")) + 1)
        .cast("bigint")
        .alias("span_days"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    gaps = daily.select(
        "event_type",
        (F.datediff(F.col("d"), F.lag("d").over(w)) - 1)
        .cast("bigint")
        .alias("gap"),
    )
    return (
        bounds.join(gaps, "event_type", "left")
        .groupBy(
            "event_type",
            "n_present",
            "span_days",
            (F.col("span_days") - F.col("n_present")).alias("n_missing"),
            F.expr("CAST(n_present * 1000000 DIV span_days AS BIGINT)").alias(
                "coverage_e6"
            ),
        )
        .agg(
            F.coalesce(F.max("gap"), F.lit(0))
            .cast("bigint")
            .alias("longest_gap_days"),
            F.coalesce(F.count_if(F.col("gap") > 0), F.lit(0))
            .cast("bigint")
            .alias("n_gaps"),
        )
        .orderBy("event_type")
    )


@query(
    "events_rate_volume_decomposition",
    """
    WITH half AS (
        SELECT o_orderpriority AS grp,
               CAST(COUNT(*) FILTER (o_orderdate < DATE '1996-01-01')
                    AS BIGINT) AS n0,
               CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    FILTER (o_orderdate < DATE '1996-01-01'), 0)
                    AS BIGINT) AS s0,
               CAST(COUNT(*) FILTER (o_orderdate >= DATE '1996-01-01')
                    AS BIGINT) AS n1,
               CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    FILTER (o_orderdate >= DATE '1996-01-01'), 0)
                    AS BIGINT) AS s1
        FROM orders GROUP BY 1
    )
    SELECT grp, n0, s0, n1, s1,
           s1 - s0 AS delta_cents,
           CASE WHEN n0 > 0 THEN
               CAST(FLOOR((CAST(n1 AS DOUBLE) - n0)
                          * (CAST(s0 AS DOUBLE) / n0)) AS BIGINT)
           ELSE NULL END AS volume_effect_cents,
           CASE WHEN n0 > 0 AND n1 > 0 THEN
               CAST(FLOOR(CAST(n1 AS DOUBLE)
                          * (CAST(s1 AS DOUBLE) / n1
                             - CAST(s0 AS DOUBLE) / n0)) AS BIGINT)
           ELSE NULL END AS rate_effect_cents
    FROM half ORDER BY grp
    """,
)
def events_rate_volume_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RATE/VOLUME decomposition (round 10): split each segment's
    period-over-period revenue change into the part driven by MORE
    ORDERS (volume effect, Δn·r₀ at the old average order value) and
    the part driven by BIGGER ORDERS (rate effect, n₁·Δr) — the
    finance/pricing classic that answers the question
    win_variance_bridge's waterfall raises ("segment A drove the
    change — but did A grow its book or its prices?").  The two
    effects reconcile to the exact delta up to the two documented
    floors (residual ∈ {0, 1, 2} cents, asserted by the referee) —
    the additive identity Δs = Δn·r₀ + n₁·Δr holds exactly in the
    reals and the floors are the only slack.

    Exactness: counts and cent sums exact bigints; each effect is
    ONE double chain floored once (the per-order averages r₀, r₁
    appear only inside those chains — never stored rounded).

    Scale: one conditional-aggregate scan to |segments| rows;
    downstream is dashboard-sized arithmetic."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cut = F.lit("1996-01-01").cast("date")
    half = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count_if(F.col("o_orderdate") < cut).cast("bigint").alias("n0"),
        F.coalesce(F.sum(F.when(F.col("o_orderdate") < cut, cents)), F.lit(0))
        .cast("bigint")
        .alias("s0"),
        F.count_if(F.col("o_orderdate") >= cut).cast("bigint").alias("n1"),
        F.coalesce(
            F.sum(F.when(F.col("o_orderdate") >= cut, cents)), F.lit(0)
        )
        .cast("bigint")
        .alias("s1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return half.select(
        "grp",
        "n0",
        "s0",
        "n1",
        "s1",
        (F.col("s1") - F.col("s0")).alias("delta_cents"),
        F.when(
            F.col("n0") > 0,
            F.floor((d("n1") - d("n0")) * (d("s0") / d("n0"))).cast("bigint"),
        ).alias("volume_effect_cents"),
        F.when(
            (F.col("n0") > 0) & (F.col("n1") > 0),
            F.floor(d("n1") * (d("s1") / d("n1") - d("s0") / d("n0"))).cast(
                "bigint"
            ),
        ).alias("rate_effect_cents"),
    ).orderBy("grp")


@query(
    "ts_extremal_index_runs",
    """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), thr AS (
        SELECT event_type,
               CAST(quantile_disc(x, 0.9) AS BIGINT) AS u
        FROM hourly GROUP BY 1
    ), exceed AS (
        SELECT h.event_type, h.h, t.u
        FROM hourly h JOIN thr t ON h.event_type = t.event_type
        WHERE h.x > t.u
    ), runs AS (
        SELECT event_type, u,
               CASE WHEN lag(h) OVER (PARTITION BY event_type
                                      ORDER BY h) IS NULL
                         OR date_diff('hour',
                            lag(h) OVER (PARTITION BY event_type
                                         ORDER BY h), h) > 3
                    THEN 1 ELSE 0 END AS new_cluster
        FROM exceed
    )
    SELECT event_type, CAST(MAX(u) AS BIGINT) AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_exceedances,
           CAST(SUM(new_cluster) AS BIGINT) AS n_clusters,
           CASE WHEN COUNT(*) > 0 THEN
               CAST(SUM(new_cluster) * 1000000 // COUNT(*) AS BIGINT)
           ELSE NULL END AS theta_e6
    FROM runs GROUP BY event_type ORDER BY event_type
    """,
)
def ts_extremal_index_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTREMAL INDEX by runs declustering (round 10): the dependence
    parameter the EVT pair left unmeasured — agg_gumbel_block_maxima
    and ts_pot_gpd_moments both assume exceedances arrive
    independently, but real load spikes CLUSTER (one incident = many
    consecutive extreme hours), and then POT double-counts: the
    effective number of independent extremes is θ·n.  Runs
    declustering with gap r=3: exceedances of the hourly series over
    its discrete p90 start a new cluster when separated by more than
    3 hours; θ̂ = clusters/exceedances — θ ≈ 1 independent spikes,
    θ ≪ 1 incident clustering (and 1/θ is the mean incident length
    in extreme-hours).  This is the number that corrects return-level
    math AND doubles as an incident-clustering readout for SRE
    dashboards.

    ZERO floats: threshold is a discrete quantile (actual element),
    cluster starts are integer calendar-gap comparisons over the
    exceedance tape, θ is one exact integer division.

    Scale: map-side hourly rollup, broadcast per-type threshold,
    one keyed lag window over EXCEEDANCE rows only (a ~10% slice of
    the calendar-bounded tape)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").cast("bigint").alias("x"))
    thr = hourly.groupBy("event_type").agg(
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY x)")
        .cast("bigint")
        .alias("u")
    )
    exceed = hourly.join(F.broadcast(thr), "event_type").filter(
        F.col("x") > F.col("u")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    runs = exceed.select(
        "event_type",
        "u",
        F.when(
            F.lag("h").over(w).isNull()
            | (
                (
                    F.unix_timestamp("h")
                    - F.unix_timestamp(F.lag("h").over(w))
                )
                / 3600
                > 3
            ),
            1,
        )
        .otherwise(0)
        .alias("new_cluster"),
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.max("u").cast("bigint").alias("threshold"),
            F.count("*").cast("bigint").alias("n_exceedances"),
            F.sum("new_cluster").cast("bigint").alias("n_clusters"),
        )
        .withColumn(
            "theta_e6",
            F.when(
                F.col("n_exceedances") > 0,
                F.expr(
                    "CAST(n_clusters * 1000000 DIV n_exceedances AS BIGINT)"
                ),
            ),
        )
        .orderBy("event_type")
    )


@query(
    "ts_spc_p_chart",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)
                   AS errs
        FROM events GROUP BY 1
    ), center AS (
        SELECT CAST(SUM(errs) AS BIGINT) AS tot_errs,
               CAST(SUM(n) AS BIGINT) AS tot_n
        FROM daily
    )
    SELECT d.day, d.n, d.errs,
           CAST(d.errs * 1000000 // d.n AS BIGINT) AS p_e6,
           CAST(c.tot_errs * 1000000 // c.tot_n AS BIGINT) AS pbar_e6,
           CAST(FLOOR((CAST(c.tot_errs AS DOUBLE) / c.tot_n
                       + 3.0 * sqrt(CAST(c.tot_errs AS DOUBLE) / c.tot_n
                                    * (1.0 - CAST(c.tot_errs AS DOUBLE)
                                             / c.tot_n) / d.n))
                      * 1000000) AS BIGINT) AS ucl_e6,
           GREATEST(CAST(FLOOR((CAST(c.tot_errs AS DOUBLE) / c.tot_n
                       - 3.0 * sqrt(CAST(c.tot_errs AS DOUBLE) / c.tot_n
                                    * (1.0 - CAST(c.tot_errs AS DOUBLE)
                                             / c.tot_n) / d.n))
                      * 1000000) AS BIGINT), 0) AS lcl_e6,
           CASE WHEN CAST(d.errs AS DOUBLE) / d.n
                     > CAST(c.tot_errs AS DOUBLE) / c.tot_n
                       + 3.0 * sqrt(CAST(c.tot_errs AS DOUBLE) / c.tot_n
                                    * (1.0 - CAST(c.tot_errs AS DOUBLE)
                                             / c.tot_n) / d.n)
                     OR CAST(d.errs AS DOUBLE) / d.n
                        < CAST(c.tot_errs AS DOUBLE) / c.tot_n
                          - 3.0 * sqrt(CAST(c.tot_errs AS DOUBLE) / c.tot_n
                                       * (1.0 - CAST(c.tot_errs AS DOUBLE)
                                                / c.tot_n) / d.n)
                THEN 1 ELSE 0 END AS breach
    FROM daily d CROSS JOIN center c
    ORDER BY d.day
    """,
)
def ts_spc_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC p-CHART (round 10): the attribute-data control chart —
    daily error PROPORTION against binomial 3σ limits p̄ ±
    3√(p̄(1−p̄)/n_d), with per-day limits because daily volumes
    differ (the defining feature of the p-chart vs a fixed band).
    Completes the SPC family: ts_control_chart_imr watches a
    CONTINUOUS measure, this watches a RATE — the error-budget /
    defect-rate chart every SRE and quality team runs, and the
    chart whose breaches feed events_error_budget_burn.

    Exactness: daily and total counts exact; p̄ and each day's
    limits are single double chains from exact integers (floored e6
    for display; the BREACH test compares the same double chains
    directly, so flag and displayed limits cannot disagree); LCL
    clamps at 0.

    Scale: one map-side daily rollup + a 1-row center broadcast —
    every limit is per-row arithmetic."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if(F.col("event_type") == "error")
        .cast("bigint")
        .alias("errs"),
    )
    center = daily.agg(
        F.sum("errs").cast("bigint").alias("tot_errs"),
        F.sum("n").cast("bigint").alias("tot_n"),
    )
    j = daily.crossJoin(F.broadcast(center))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pbar = d("tot_errs") / d("tot_n")
    half = 3.0 * F.sqrt(pbar * (1.0 - pbar) / d("n"))
    pd_ = d("errs") / d("n")
    return j.select(
        "day",
        "n",
        "errs",
        F.expr("CAST(errs * 1000000 DIV n AS BIGINT)").alias("p_e6"),
        F.expr("CAST(tot_errs * 1000000 DIV tot_n AS BIGINT)").alias(
            "pbar_e6"
        ),
        F.floor((pbar + half) * 1000000).cast("bigint").alias("ucl_e6"),
        F.greatest(
            F.floor((pbar - half) * 1000000).cast("bigint"), F.lit(0)
        ).alias("lcl_e6"),
        F.when((pd_ > pbar + half) | (pd_ < pbar - half), 1)
        .otherwise(0)
        .alias("breach"),
    ).orderBy("day")


@query(
    "ts_outlier_consensus",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                          AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m) AS BIGINT) AS s,
               CAST(SUM(m * m) AS BIGINT) AS q,
               CAST(quantile_disc(m, 0.25) AS BIGINT) AS q1,
               CAST(quantile_disc(m, 0.5) AS BIGINT) AS med,
               CAST(quantile_disc(m, 0.75) AS BIGINT) AS q3
        FROM daily GROUP BY 1
    ), madt AS (
        SELECT d.event_type,
               CAST(quantile_disc(abs(d.m - s.med), 0.5) AS BIGINT)
                   AS mad
        FROM daily d JOIN stats s ON d.event_type = s.event_type
        GROUP BY 1
    ), flagged AS (
        SELECT d.event_type, d.day, d.m,
               CASE WHEN 4 * (s.n * d.m - s.s) * (s.n * d.m - s.s)
                         > 25 * (s.n * s.q - s.s * s.s)
                    THEN 1 ELSE 0 END AS flag_z,
               CASE WHEN abs(d.m - s.med) * 10000 > 44478 * t.mad
                    THEN 1 ELSE 0 END AS flag_mad,
               CASE WHEN 2 * d.m < 5 * s.q1 - 3 * s.q3
                         OR 2 * d.m > 5 * s.q3 - 3 * s.q1
                    THEN 1 ELSE 0 END AS flag_tukey
        FROM daily d
        JOIN stats s ON d.event_type = s.event_type
        JOIN madt t ON t.event_type = d.event_type
    )
    SELECT event_type, day, m AS m_e4, flag_z, flag_mad, flag_tukey,
           flag_z + flag_mad + flag_tukey AS votes
    FROM flagged
    WHERE flag_z + flag_mad + flag_tukey > 0
    ORDER BY event_type, day
    """,
)
def ts_outlier_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTLIER CONSENSUS vote (round 10): three detectors with three
    different failure modes — z-score (assumes normality, masked by
    the outlier inflating its own σ), MAD (robust, blind when >50%
    of days shift), Tukey fences (quartile-rule, coarse) — each vote
    on every daily point, emitting flagged days with the vote count.
    Single-detector anomaly feeds page people at 3am for detector
    ARTIFACTS; the ensemble-vote pattern (≥2 of 3) is the standard
    de-noising every mature alerting stack converges on, and the
    disagreement rows (votes = 1) are the detector-tuning backlog.

    ZERO FLOATS in all three tests — each clears to pure integer
    comparisons: z-score as 4(n·m − S)² > 25(nQ − S²) (2.5σ with the
    fraction cleared), MAD as |m − med|·10⁴ > 44478·MAD (3·1.4826
    scaled e4, disc medians are actual elements), Tukey in doubled
    units (2m vs 5Q1 − 3Q3).  No quantization boundary anywhere.

    Scale: one map-side daily rollup + two |types|-row stat frames
    broadcast back — three detectors for the price of one pass."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    ).agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 10000).cast("bigint")).cast("double")
            / F.count("*")
        )
        .cast("bigint")
        .alias("m")
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("s"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("q"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY m)")
        .cast("bigint")
        .alias("q1"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY m)")
        .cast("bigint")
        .alias("med"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY m)")
        .cast("bigint")
        .alias("q3"),
    )
    madt = (
        daily.join(F.broadcast(stats.select("event_type", "med")), "event_type")
        .select(
            "event_type", F.abs(F.col("m") - F.col("med")).alias("dev")
        )
        .groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
            .cast("bigint")
            .alias("mad")
        )
    )
    j = daily.join(F.broadcast(stats), "event_type").join(
        F.broadcast(madt), "event_type"
    )
    dz = F.col("n") * F.col("m") - F.col("s")
    flag_z = (
        4 * dz * dz > 25 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    ).cast("int")
    flag_mad = (
        F.abs(F.col("m") - F.col("med")) * 10000 > 44478 * F.col("mad")
    ).cast("int")
    flag_tukey = (
        (2 * F.col("m") < 5 * F.col("q1") - 3 * F.col("q3"))
        | (2 * F.col("m") > 5 * F.col("q3") - 3 * F.col("q1"))
    ).cast("int")
    out = j.select(
        "event_type",
        "day",
        F.col("m").alias("m_e4"),
        flag_z.alias("flag_z"),
        flag_mad.alias("flag_mad"),
        flag_tukey.alias("flag_tukey"),
    ).withColumn(
        "votes", F.col("flag_z") + F.col("flag_mad") + F.col("flag_tukey")
    )
    return out.filter(F.col("votes") > 0).orderBy("event_type", "day")


@query(
    "events_cumulative_reach",
    """
    WITH firstseen AS (
        SELECT user_id, CAST(MIN(CAST(ts AS DATE)) AS DATE) AS d0
        FROM events GROUP BY 1
    ), daily_new AS (
        SELECT d0 AS day, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM firstseen GROUP BY 1
    )
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS reach,
           CAST(SUM(n_new) OVER () AS BIGINT) AS total_users,
           CAST(SUM(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 1000000 // SUM(n_new) OVER () AS BIGINT)
               AS reach_share_e6
    FROM daily_new ORDER BY day
    """,
)
def events_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE REACH curve (round 10): distinct users ever seen,
    by day — the audience-accumulation curve every campaign /
    launch report leads with, computed the ONLY way that scales:
    running COUNT(DISTINCT) per day is quadratic state, but reach is
    exactly the cumulative sum of FIRST-SEEN counts (each user
    contributes once, on their first day) — one keyed min, one
    day rollup, one calendar-bounded running sum.  The daily-new
    column doubles as the acquisition series and the curve's
    flattening is the market-saturation readout (text_heaps_law's
    vocabulary-growth shape, on users).

    ZERO floats: first-seen days, counts, the running sum and the
    share (exact integer division) — no quantization anywhere.

    Scale: the user-keyed min is the one row-scale exchange; the
    window runs over |calendar| rows (budgeted single-series
    frame)."""
    ev = load(spark, sf_dir, "events")
    firstseen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    daily_new = firstseen.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    wc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return daily_new.select(
        "day",
        "n_new",
        F.sum("n_new").over(wc).cast("bigint").alias("reach"),
        F.sum("n_new").over(wall).cast("bigint").alias("total_users"),
        F.expr(
            "CAST(SUM(n_new) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND CURRENT ROW) * 1000000 DIV SUM(n_new) OVER ()"
            " AS BIGINT)"
        ).alias("reach_share_e6"),
    ).orderBy("day")


@query(
    "ts_seasonal_profile_similarity",
    """
    WITH prof AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS t
        FROM prof GROUP BY 1
    ), shares AS (
        SELECT p.event_type, p.dow,
               CAST(p.c * 1000000 // t.t AS BIGINT) AS share_e6
        FROM prof p JOIN tot t ON p.event_type = t.event_type
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(SUM(a.share_e6 * b.share_e6) AS BIGINT) AS dot_e12,
               CAST(SUM(a.share_e6 * a.share_e6) AS BIGINT) AS na_e12,
               CAST(SUM(b.share_e6 * b.share_e6) AS BIGINT) AS nb_e12,
               CAST(SUM(ABS(a.share_e6 - b.share_e6)) AS BIGINT)
                   AS l1_e6
        FROM shares a JOIN shares b
          ON a.dow = b.dow AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, l1_e6,
           CAST(FLOOR(CAST(dot_e12 AS DOUBLE)
                      / sqrt(CAST(na_e12 AS DOUBLE)
                             * CAST(nb_e12 AS DOUBLE))
                      * 1000000) AS BIGINT) AS cosine_e6
    FROM pairs ORDER BY type_a, type_b
    """,
)
def ts_seasonal_profile_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEEKLY-PROFILE similarity between series (round 10): cosine
    and L1 distance between every pair of event types' day-of-week
    share profiles — the input to metric CLUSTERING ("which metrics
    share a weekly shape?"), which decides dashboard grouping, shared
    seasonal models (one seasonal adjustment can serve a cluster),
    and anomaly correlation groups.  ts_seasonality_profile reads one
    series' shape; this compares shapes — the pairwise step the
    single-series ops can't express.

    Exactness: shares quantize once as exact integer divisions (e6);
    dot products and norms are exact e12 bigints over the 7-day
    profile; cosine is one floored chain, L1 is pure integer.

    Scale: the pair domain is |types|² over 7-row profiles —
    dashboard-sized at any SF; the corpus-scale stage is one
    map-side (type, dow) count."""
    ev = load(spark, sf_dir, "events")
    prof = ev.groupBy(
        "event_type", (F.dayofweek("ts")).alias("dow")
    ).agg(F.count("*").cast("bigint").alias("c"))
    tot = prof.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    shares = prof.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        F.expr("CAST(c * 1000000 DIV t AS BIGINT)").alias("share_e6"),
    )
    a = shares.select(
        F.col("event_type").alias("type_a"),
        F.col("dow").alias("dow"),
        F.col("share_e6").alias("sa"),
    )
    b = shares.select(
        F.col("event_type").alias("type_b"),
        F.col("dow").alias("dow_b"),
        F.col("share_e6").alias("sb"),
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("dow") == F.col("dow_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).cast("bigint").alias("dot_e12"),
            F.sum(F.col("sa") * F.col("sa")).cast("bigint").alias("na_e12"),
            F.sum(F.col("sb") * F.col("sb")).cast("bigint").alias("nb_e12"),
            F.sum(F.abs(F.col("sa") - F.col("sb")))
            .cast("bigint")
            .alias("l1_e6"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return pairs.select(
        "type_a",
        "type_b",
        "l1_e6",
        F.floor(d("dot_e12") / F.sqrt(d("na_e12") * d("nb_e12")) * 1000000)
        .cast("bigint")
        .alias("cosine_e6"),
    ).orderBy("type_a", "type_b")


@query(
    "ts_dickey_fuller",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), pairs AS (
        SELECT CAST(x - LAG(x) OVER (ORDER BY d) AS BIGINT) AS y,
               CAST(LAG(x) OVER (ORDER BY d) AS BIGINT) AS z
        FROM daily QUALIFY LAG(x) OVER (ORDER BY d) IS NOT NULL
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(z * y) AS BIGINT) AS szy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs
    )
    SELECT n,
           CAST(n * szy - sz * sy AS BIGINT) AS a_num,
           CAST(n * szz - sz * sz AS BIGINT) AS b_den,
           CAST(FLOOR(CAST(n * szy - sz * sy AS DOUBLE)
                      / CAST(n * szz - sz * sz AS DOUBLE)
                      * 1000000000) AS BIGINT) AS beta_e9,
           CAST(FLOOR(CAST(n * szy - sz * sy AS DOUBLE)
                      * SQRT((CAST(n AS DOUBLE) - 2.0)
                             / (CAST(n * szz - sz * sz AS DOUBLE)
                                * CAST(n * syy - sy * sy AS DOUBLE)
                                - CAST(n * szy - sz * sy AS DOUBLE)
                                  * CAST(n * szy - sz * sy AS DOUBLE)))
                      * 1000000) AS BIGINT) AS df_t_e6
    FROM sums
    """,
)
def ts_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICKEY-FULLER unit-root t-statistic (round 11), constant-only,
    no augmentation, on the daily event-count series: regress
    Δx_t = α + β·x_{t−1} and read the t-stat on β — the stationarity
    gate every ARIMA/forecast member of this suite silently assumes
    (a random-walk series makes ts_acf/ts_holt_linear readouts
    meaningless; DF ≪ −2.9 rejects the unit root at 5%).  Completes
    the diagnostics family: ts_variance_ratio (dependence), ts_kpss
    (trend-stationarity, the mirrored null), DF (unit root).

    Exactness: with A = nΣzy−ΣzΣy, B = nΣz²−(Σz)², C = nΣy²−(Σy)²
    (exact bigints from integer counts), β̂ = A/B and the t-stat
    folds to A·√((n−2)/(B·C−A²)) — ONE double chain each, floored
    e9/e6; B·C−A² is formed in double (its exact value overflows
    int64 at decade scales, the r10 overflow-audit discipline).

    Scale: map-side daily rollup; the lag window runs on the
    calendar-bounded pre-reduced series; one-row finish."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    w_seq = Window.orderBy("d")
    pairs = (
        daily.select(
            (F.col("x") - F.lag("x").over(w_seq)).cast("bigint").alias("y"),
            F.lag("x").over(w_seq).cast("bigint").alias("z"),
        )
        .filter(F.col("z").isNotNull())
    )
    sums = pairs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("z") * F.col("y")).cast("bigint").alias("szy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    a = (F.col("n") * F.col("szy") - F.col("sz") * F.col("sy")).cast("bigint")
    b = (F.col("n") * F.col("szz") - F.col("sz") * F.col("sz")).cast("bigint")
    c = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("bigint")
    ad, bd, cd = a.cast("double"), b.cast("double"), c.cast("double")
    nd = F.col("n").cast("double")
    return sums.select(
        "n",
        a.alias("a_num"),
        b.alias("b_den"),
        F.floor(ad / bd * 1000000000).cast("bigint").alias("beta_e9"),
        F.floor(ad * F.sqrt((nd - 2.0) / (bd * cd - ad * ad)) * 1000000)
        .cast("bigint")
        .alias("df_t_e6"),
    )


@query(
    "ts_kpss_level",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM daily
    ), e AS (
        SELECT daily.d,
               CAST(ROW_NUMBER() OVER (ORDER BY daily.d) AS BIGINT) AS i,
               CAST(tot.n * daily.x - tot.s AS BIGINT) AS ne
        FROM daily, tot
    ), parts AS (
        SELECT i, ne,
               CAST(SUM(ne) OVER (ORDER BY i) AS BIGINT) AS ns,
               CAST(LAG(ne, 1) OVER (ORDER BY i) AS BIGINT) AS ne1,
               CAST(LAG(ne, 2) OVER (ORDER BY i) AS BIGINT) AS ne2,
               CAST(LAG(ne, 3) OVER (ORDER BY i) AS BIGINT) AS ne3,
               CAST(LAG(ne, 4) OVER (ORDER BY i) AS BIGINT) AS ne4
        FROM e
    ), folded AS (
        SELECT CAST(SUM(CAST(FLOOR(CAST(ns AS DOUBLE) * CAST(ns AS DOUBLE)
                        / (SELECT CAST(n * n AS DOUBLE) FROM tot))
                        AS BIGINT)) AS BIGINT) AS ss_part,
               CAST(5 * SUM(ne * ne)
                    + 2 * 4 * SUM(ne * ne1)
                    + 2 * 3 * SUM(ne * ne2)
                    + 2 * 2 * SUM(ne * ne3)
                    + 2 * 1 * SUM(ne * ne4) AS BIGINT) AS lrv_h
        FROM parts
    )
    SELECT tot.n, ss_part, lrv_h,
           CAST(FLOOR(5.0 * CAST(ss_part AS DOUBLE)
                      / (CAST(tot.n AS DOUBLE) * CAST(lrv_h AS DOUBLE))
                      * 1000000) AS BIGINT) AS kpss_e6
    FROM folded, tot
    """,
)
def ts_kpss_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic (round 11), Bartlett
    bandwidth ℓ=4, on the daily event-count series — the MIRRORED
    null to ts_dickey_fuller (KPSS null = stationary, DF null = unit
    root; the pair gives the four-quadrant stationarity verdict
    every forecasting handbook prescribes): η = Σ_t S_t² / (n²·σ̂²_ℓ)
    with S_t the partial sums of demeaned counts and σ̂²_ℓ the
    Bartlett long-run variance.  η ≫ 0.463 rejects stationarity
    at 5%.

    Exactness by clearing the mean: n·e_t = n·x_t − Σx is an exact
    bigint, so every autocovariance term G_j = Σ(ne_t)(ne_{t−j}) and
    the Bartlett fold H = 5G₀+8G₁+6G₂+4G₃+2G₄ (weights 2(5−j)/5
    cleared by 5) are exact bigints; each partial-sum square is ONE
    double product floored to (S_t)² scale before the order-free
    bigint sum ((nS_t)² exceeds int64 at decade scales — the r10
    overflow-audit discipline); the final η folds in one double
    division, floored e6.

    Scale: map-side daily rollup; lag/cumsum windows run on the
    calendar-bounded pre-reduced series; one-row finish."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    e = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        (F.col("n") * F.col("x") - F.col("s")).cast("bigint").alias("ne"),
    )
    w_seq = Window.orderBy("d")
    parts = e.select(
        "n",
        "ne",
        F.sum("ne").over(w_seq).cast("bigint").alias("ns"),
        F.lag("ne", 1).over(w_seq).cast("bigint").alias("ne1"),
        F.lag("ne", 2).over(w_seq).cast("bigint").alias("ne2"),
        F.lag("ne", 3).over(w_seq).cast("bigint").alias("ne3"),
        F.lag("ne", 4).over(w_seq).cast("bigint").alias("ne4"),
    )
    nsd = F.col("ns").cast("double")
    nd = F.col("n").cast("double")
    folded = parts.agg(
        F.sum(F.floor(nsd * nsd / (nd * nd)).cast("bigint"))
        .cast("bigint")
        .alias("ss_part"),
        (
            5 * F.sum(F.col("ne") * F.col("ne"))
            + 8 * F.sum(F.col("ne") * F.col("ne1"))
            + 6 * F.sum(F.col("ne") * F.col("ne2"))
            + 4 * F.sum(F.col("ne") * F.col("ne3"))
            + 2 * F.sum(F.col("ne") * F.col("ne4"))
        )
        .cast("bigint")
        .alias("lrv_h"),
    )
    return folded.crossJoin(F.broadcast(tot.select("n"))).select(
        "n",
        "ss_part",
        "lrv_h",
        F.floor(
            5.0
            * F.col("ss_part").cast("double")
            / (F.col("n").cast("double") * F.col("lrv_h").cast("double"))
            * 1000000
        )
        .cast("bigint")
        .alias("kpss_e6"),
    )


@query(
    "ts_granger_1lag",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), pairs AS (
        SELECT CAST(y AS BIGINT) AS w,
               CAST(LAG(y) OVER (ORDER BY d) AS BIGINT) AS z1,
               CAST(LAG(x) OVER (ORDER BY d) AS BIGINT) AS z2
        FROM daily QUALIFY LAG(y) OVER (ORDER BY d) IS NOT NULL
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z1) AS BIGINT) AS s1, CAST(SUM(z2) AS BIGINT) AS s2,
               CAST(SUM(w) AS BIGINT) AS sw,
               CAST(SUM(z1 * z1) AS BIGINT) AS s11,
               CAST(SUM(z1 * z2) AS BIGINT) AS s12,
               CAST(SUM(z2 * z2) AS BIGINT) AS s22,
               CAST(SUM(z1 * w) AS BIGINT) AS s1w,
               CAST(SUM(z2 * w) AS BIGINT) AS s2w,
               CAST(SUM(w * w) AS BIGINT) AS sww
        FROM pairs
    ), cleared AS (
        SELECT n,
               CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
               CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
               CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
               CAST(n * s1w - s1 * sw AS DOUBLE) AS c1w,
               CAST(n * s2w - s2 * sw AS DOUBLE) AS c2w,
               CAST(n * sww - sw * sw AS DOUBLE) AS cww
        FROM sums
    )
    SELECT n,
           CAST(FLOOR((cww - c1w * c1w / c11) * 1000000
                      / CAST(n AS DOUBLE)) AS BIGINT) AS rss_r_e6,
           CAST(FLOOR((cww - (c22 * c1w * c1w - 2.0 * c12 * c1w * c2w
                              + c11 * c2w * c2w)
                             / (c11 * c22 - c12 * c12)) * 1000000
                      / CAST(n AS DOUBLE)) AS BIGINT) AS rss_u_e6,
           CAST(FLOOR(((cww - c1w * c1w / c11)
                       - (cww - (c22 * c1w * c1w - 2.0 * c12 * c1w * c2w
                                 + c11 * c2w * c2w)
                                / (c11 * c22 - c12 * c12)))
                      * (CAST(n AS DOUBLE) - 3.0)
                      / (cww - (c22 * c1w * c1w - 2.0 * c12 * c1w * c2w
                                + c11 * c2w * c2w)
                               / (c11 * c22 - c12 * c12))
                      * 1000000) AS BIGINT) AS f_e6
    FROM cleared
    """,
)
def ts_granger_1lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRANGER CAUSALITY, one lag (round 11): does yesterday's event
    VOLUME (daily count x) predict today's average ticket (daily mean
    value y) beyond y's own lag?  F = (RSS_r − RSS_u)·(n−3)/RSS_u
    comparing the restricted AR(1) of y against the unrestricted
    regression on (y_{t−1}, x_{t−1}) — the standard lead-lag screen
    before anyone claims 'volume drives price' from a pair of
    dashboards; completes ts_cross_correlation_lagged (symmetric,
    descriptive) with the directional inferential member.

    Exactness: daily y is the exact integer-division mean of e4 value
    units (bounded by the VALUE domain, so its squares cannot
    overflow at any SF — chosen over daily sums for exactly that
    reason); all six centered co-moments are n-cleared exact bigints;
    the 2×2 normal-equation solve (Cramer) and F fold are ONE double
    chain floored e6, written identically in both engines.

    Scale: map-side daily rollup; one lag window on the
    calendar-bounded series; one-row finish."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x"),
        # exact int64 DIV matching the oracle's `//` (ADVICE r11)
        F.expr(
            "CAST(sum(CAST(floor(value * 10000) AS BIGINT))"
            " DIV count(*) AS BIGINT)"
        ).alias("y"),
    )
    w_seq = Window.orderBy("d")
    pairs = (
        daily.select(
            F.col("y").alias("w"),
            F.lag("y").over(w_seq).cast("bigint").alias("z1"),
            F.lag("x").over(w_seq).cast("bigint").alias("z2"),
        )
        .filter(F.col("z1").isNotNull())
    )
    sums = pairs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("z1").cast("bigint").alias("s1"),
        F.sum("z2").cast("bigint").alias("s2"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("z1") * F.col("z1")).cast("bigint").alias("s11"),
        F.sum(F.col("z1") * F.col("z2")).cast("bigint").alias("s12"),
        F.sum(F.col("z2") * F.col("z2")).cast("bigint").alias("s22"),
        F.sum(F.col("z1") * F.col("w")).cast("bigint").alias("s1w"),
        F.sum(F.col("z2") * F.col("w")).cast("bigint").alias("s2w"),
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("sww"),
    )
    n = F.col("n")
    c11 = (n * F.col("s11") - F.col("s1") * F.col("s1")).cast("double")
    c12 = (n * F.col("s12") - F.col("s1") * F.col("s2")).cast("double")
    c22 = (n * F.col("s22") - F.col("s2") * F.col("s2")).cast("double")
    c1w = (n * F.col("s1w") - F.col("s1") * F.col("sw")).cast("double")
    c2w = (n * F.col("s2w") - F.col("s2") * F.col("sw")).cast("double")
    cww = (n * F.col("sww") - F.col("sw") * F.col("sw")).cast("double")
    nd = n.cast("double")
    rss_r = cww - c1w * c1w / c11
    rss_u = cww - (
        c22 * c1w * c1w - 2.0 * c12 * c1w * c2w + c11 * c2w * c2w
    ) / (c11 * c22 - c12 * c12)
    return sums.select(
        "n",
        F.floor(rss_r * 1000000 / nd).cast("bigint").alias("rss_r_e6"),
        F.floor(rss_u * 1000000 / nd).cast("bigint").alias("rss_u_e6"),
        F.floor((rss_r - rss_u) * (nd - 3.0) / rss_u * 1000000)
        .cast("bigint")
        .alias("f_e6"),
    )


@query(
    "ts_locf_max_gap",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events WHERE user_id < 40
      GROUP BY user_id, date_trunc('hour', ts)
    ), bounds AS (
      SELECT user_id, MIN(hour_ts) AS h0, MAX(hour_ts) AS h1
      FROM hourly GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      FROM bounds
    ), joined AS (
      SELECT g.user_id, g.hour_ts, h.n_events,
             last_value(h.n_events IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.hour_ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS carried,
             last_value(CASE WHEN h.n_events IS NOT NULL
                        THEN g.hour_ts END IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.hour_ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_obs
      FROM grid g
      LEFT JOIN hourly h
        ON g.user_id = h.user_id AND g.hour_ts = h.hour_ts
    )
    SELECT user_id, hour_ts,
           CAST(CASE WHEN n_events IS NOT NULL THEN n_events
                WHEN date_diff('hour', last_obs, hour_ts) <= 6
                THEN carried ELSE NULL END AS BIGINT) AS n_events_filled,
           CAST(date_diff('hour', last_obs, hour_ts) AS BIGINT)
               AS gap_hours,
           n_events IS NULL
               AND date_diff('hour', last_obs, hour_ts) <= 6 AS was_filled
    FROM joined
    """,
)
def ts_locf_max_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-GAP LOCF (round 11): the production variant of
    ts_resample_locf — carry the last observation forward AT MOST 6
    hours, then surface NULL rather than keep repeating a stale
    reading.  Unbounded LOCF is the classic monitoring lie (a dead
    sensor 'reports' its last value forever; ts_missing_data_census
    exists precisely to catch that); the max-gap cutoff is the fix
    every metrics pipeline actually deploys, and the gap_hours
    column is the staleness audit trail.

    Exactness: grid, carried values, and gap arithmetic are all
    integer/calendar programs — last_value IGNORE NULLS over the
    same keyed frame in both engines; no floats anywhere.

    Scale: user-keyed spine join + one keyed window carrying BOTH
    the value and its observation hour on a single frame (one window
    pass, not two) — the ts_resample_locf shape with a second
    carried column."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("user_id") < 40)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour_ts").alias("h0"), F.max("hour_ts").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    joined = grid.join(hourly, ["user_id", "hour_ts"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("n_events", ignorenulls=True).over(w)
    last_obs = F.last(
        F.when(F.col("n_events").isNotNull(), F.col("hour_ts")),
        ignorenulls=True,
    ).over(w)
    gap = (
        (F.unix_timestamp(F.col("hour_ts")) - F.unix_timestamp(last_obs))
        / 3600
    ).cast("bigint")
    out = joined.select(
        "user_id",
        "hour_ts",
        "n_events",
        carried.alias("carried"),
        gap.alias("gap_hours"),
    )
    return out.select(
        "user_id",
        "hour_ts",
        F.when(F.col("n_events").isNotNull(), F.col("n_events"))
        .when(F.col("gap_hours") <= 6, F.col("carried"))
        .cast("bigint")
        .alias("n_events_filled"),
        "gap_hours",
        (F.col("n_events").isNull() & (F.col("gap_hours") <= 6)).alias(
            "was_filled"
        ),
    )


@query(
    "ts_weekend_effect_ols",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), idx AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
               CAST(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS BIGINT)
                   AS w,
               y
        FROM daily
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(w) AS BIGINT) AS sw,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(t * t) AS BIGINT) AS stt,
               CAST(SUM(t * w) AS BIGINT) AS stw,
               CAST(SUM(w * w) AS BIGINT) AS sww,
               CAST(SUM(t * y) AS BIGINT) AS sty,
               CAST(SUM(w * y) AS BIGINT) AS swy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM idx
    ), cleared AS (
        SELECT n,
               CAST(n * stt - st * st AS DOUBLE) AS c11,
               CAST(n * stw - st * sw AS DOUBLE) AS c12,
               CAST(n * sww - sw * sw AS DOUBLE) AS c22,
               CAST(n * sty - st * sy AS DOUBLE) AS c1y,
               CAST(n * swy - sw * sy AS DOUBLE) AS c2y,
               CAST(n * syy - sy * sy AS DOUBLE) AS cyy
        FROM sums
    )
    SELECT n,
           CAST(FLOOR((c22 * c1y - c12 * c2y)
                      / (c11 * c22 - c12 * c12) * 1000000) AS BIGINT)
               AS b_trend_e6,
           CAST(FLOOR((c11 * c2y - c12 * c1y)
                      / (c11 * c22 - c12 * c12) * 10000) AS BIGINT)
               AS b_weekend_e4,
           CAST(FLOOR(((c22 * c1y - c12 * c2y) * c1y
                       + (c11 * c2y - c12 * c1y) * c2y)
                      / ((c11 * c22 - c12 * c12) * cyy)
                      * 1000000) AS BIGINT) AS r2_e6
    FROM cleared
    """,
)
def ts_weekend_effect_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-EFFECT OLS (round 11): regress the daily event count
    on a linear day index AND a weekend dummy simultaneously —
    'traffic grows b_trend/day and drops b_weekend on weekends',
    each coefficient controlling for the other (eyeballing weekend
    dips off a trending series confounds the two; this is the
    two-regressor fix, the deterministic-covariate sibling of
    ts_granger_1lag's lagged pair).  R² reports how much of the
    daily variance calendar + trend explain — the residual is what
    ts_anomaly_pipeline should actually be hunting.

    Exactness: day index and weekend dummy are exact integers; all
    six centered co-moments are n-cleared exact bigints; the Cramer
    solve and R² fold are ONE double chain each, floored
    e6/e4/e6.

    Scale: map-side daily rollup; the index window runs on the
    calendar-bounded series; 1-row finish."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("y")
    )
    w_seq = Window.orderBy("d")
    idx = daily.select(
        F.row_number().over(w_seq).cast("bigint").alias("t"),
        F.when(F.dayofweek("d").isin(1, 7), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("w"),
        "y",
    )
    sums = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum(F.col("t") * F.col("w")).cast("bigint").alias("stw"),
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("sww"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
        F.sum(F.col("w") * F.col("y")).cast("bigint").alias("swy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n = F.col("n")
    c11 = (n * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    c12 = (n * F.col("stw") - F.col("st") * F.col("sw")).cast("double")
    c22 = (n * F.col("sww") - F.col("sw") * F.col("sw")).cast("double")
    c1y = (n * F.col("sty") - F.col("st") * F.col("sy")).cast("double")
    c2y = (n * F.col("swy") - F.col("sw") * F.col("sy")).cast("double")
    cyy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    return sums.select(
        "n",
        F.floor(b1 * 1000000).cast("bigint").alias("b_trend_e6"),
        F.floor(b2 * 10000).cast("bigint").alias("b_weekend_e4"),
        F.floor(
            ((c22 * c1y - c12 * c2y) * c1y + (c11 * c2y - c12 * c1y) * c2y)
            / (det * cyy)
            * 1000000
        )
        .cast("bigint")
        .alias("r2_e6"),
    )


_SES_GRID = (
    ("2", "0.2", "0.8"),
    ("3", "0.3", "0.7"),
    ("4", "0.4", "0.6"),
    ("5", "0.5", "0.5"),
    ("6", "0.6", "0.4"),
    ("7", "0.7", "0.3"),
    ("8", "0.8", "0.2"),
)


def _ses_oracle_sql() -> str:
    seed_cols = ", ".join(
        f"CAST(y AS DOUBLE) AS yh{k}, CAST(0 AS DOUBLE) AS ss{k}"
        for k, _, _ in _SES_GRID
    )
    step_cols = ", ".join(
        f"r.ss{k} + (CAST(d.y AS DOUBLE) - r.yh{k})"
        f" * (CAST(d.y AS DOUBLE) - r.yh{k}) AS ss{k}_n, "
        f"{a} * CAST(d.y AS DOUBLE) + {b} * r.yh{k} AS yh{k}_n"
        for k, a, b in _SES_GRID
    )
    # rename *_n back in the recursive select list
    step_sel = ", ".join(
        f"yh{k}_n AS yh{k}, ss{k}_n AS ss{k}" for k, _, _ in _SES_GRID
    )
    out_cols = ", ".join(
        f"CAST(FLOOR(ss{k} * 100) AS BIGINT) AS sse_a{k}_e2"
        for k, _, _ in _SES_GRID
    )
    best = "CASE " + " ".join(
        f"WHEN CAST(FLOOR(ss{k} * 100) AS BIGINT) = m.best THEN {k}"
        for k, _, _ in _SES_GRID
    ) + " END"
    least = "LEAST(" + ", ".join(
        f"CAST(FLOOR(ss{k} * 100) AS BIGINT)" for k, _, _ in _SES_GRID
    ) + ")"
    return f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), idx AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, y
        FROM daily
    ), rec AS (
        SELECT t, {seed_cols} FROM idx WHERE t = 1
        UNION ALL
        SELECT t, {step_sel} FROM (
            SELECT d.t, {step_cols}
            FROM rec r JOIN idx d ON d.t = r.t + 1
        ) _
    ), fin AS (
        SELECT * FROM rec WHERE t = (SELECT MAX(t) FROM idx)
    )
    SELECT (SELECT CAST(MAX(t) AS BIGINT) FROM idx) AS n, {out_cols},
           CAST({best} AS BIGINT) AS best_alpha_e1
    FROM fin, (SELECT {least} AS best FROM fin) m
    """


@query("ts_ses_grid_alpha", _ses_oracle_sql())
def ts_ses_grid_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SES SMOOTHING-PARAMETER GRID SEARCH (round 11): run simple
    exponential smoothing over the daily count series at α ∈
    {0.2..0.8} SIMULTANEOUSLY and report each α's one-step-ahead SSE
    plus the argmin — the model-selection readout behind every
    'auto' smoother (ts_ewma and ts_holt_linear fix their constants;
    this answers WHICH constant the data wants, the first rung of
    state-space model selection).  Low best-α = stable series, lean
    on history; high best-α = regime-shifting, trust the present.

    Exactness: the recurrence ŷ' = α·y + β·ŷ is inherently
    sequential, so BOTH engines fold the identical ordered series
    with identical literal constants (α AND β both written as
    literals — deriving β as 1−α risks a one-ulp divergence) in
    identical operation order: Spark via a higher-order aggregate()
    lambda over the calendar-bounded array, DuckDB via a recursive
    CTE carrying all seven (ŷ, SSE) pairs in one recursion; every
    IEEE64 op matches bit-for-bit, SSEs floor e2, argmin compares
    floored integers (ties → smallest α).

    Scale: map-side daily rollup; the fold runs over the
    calendar-bounded series (31 values — a bounded array, never a
    per-row collect of raw data); 1-row finish."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("y")
    )
    arr = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "y"))),
            lambda s: s["y"].cast("double"),
        ).alias("vals"),
        F.count("*").cast("bigint").alias("n"),
    )
    def _merge(af: float, bf: float):
        def merge(acc, x):
            return F.struct(
                (F.lit(af) * x + F.lit(bf) * acc["yh"]).alias("yh"),
                (acc["ss"] + (x - acc["yh"]) * (x - acc["yh"])).alias("ss"),
            )

        return merge

    cols = [F.col("n")]
    sse_cols = []
    for k, a, b in _SES_GRID:
        folded = F.aggregate(
            F.slice(F.col("vals"), 2, F.size("vals") - 1),
            F.struct(
                F.element_at("vals", 1).alias("yh"),
                F.lit(0.0).alias("ss"),
            ),
            _merge(float(a), float(b)),
        )
        sse = F.floor(folded["ss"] * 100).cast("bigint")
        cols.append(sse.alias(f"sse_a{k}_e2"))
        sse_cols.append((k, sse))
    best = F.least(*[c for _, c in sse_cols])
    pick = None
    for k, c in sse_cols:
        pick = F.when(c == best, F.lit(int(k))) if pick is None else pick.when(
            c == best, F.lit(int(k))
        )
    cols.append(pick.cast("bigint").alias("best_alpha_e1"))
    return arr.select(*cols)


@query(
    "ts_forecast_combination",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), idx AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, y,
               CAST(LAG(y, 7) OVER (ORDER BY d) AS BIGINT) AS y_lag7
        FROM daily
    ), consts AS (
        SELECT CAST(MAX(t) - 7 AS BIGINT) AS n_tr,
               CAST(SUM(CASE WHEN t <= (SELECT MAX(t) - 7 FROM idx)
                        THEN y END) AS BIGINT) AS s_tr,
               CAST(MAX(CASE WHEN t = 1 THEN y END) AS BIGINT) AS y1,
               CAST(MAX(CASE WHEN t = (SELECT MAX(t) - 7 FROM idx)
                        THEN y END) AS BIGINT) AS yn
        FROM idx
    ), test AS (
        SELECT i.t - c.n_tr AS h, i.y, i.y_lag7,
               CAST(c.s_tr AS DOUBLE) / c.n_tr AS f_mean,
               CAST(c.yn AS DOUBLE)
                 + (i.t - c.n_tr) * (CAST(c.yn AS DOUBLE) - c.y1)
                   / (c.n_tr - 1.0) AS f_drift
        FROM idx i, consts c WHERE i.t > c.n_tr
    ), errs AS (
        SELECT
            CAST(SUM(CAST(FLOOR(ABS(CAST(y AS DOUBLE) - y_lag7) * 10000)
                     AS BIGINT)) AS BIGINT) AS e_snaive,
            CAST(SUM(CAST(FLOOR(ABS(CAST(y AS DOUBLE) - f_mean) * 10000)
                     AS BIGINT)) AS BIGINT) AS e_mean,
            CAST(SUM(CAST(FLOOR(ABS(CAST(y AS DOUBLE) - f_drift) * 10000)
                     AS BIGINT)) AS BIGINT) AS e_drift,
            CAST(SUM(CAST(FLOOR(ABS(CAST(y AS DOUBLE)
                     - (CAST(y_lag7 AS DOUBLE) + f_mean + f_drift) / 3.0)
                     * 10000) AS BIGINT)) AS BIGINT) AS e_combo
        FROM test
    )
    SELECT CAST(7 AS BIGINT) AS horizon,
           CAST(e_snaive // 7 AS BIGINT) AS mae_snaive_e4,
           CAST(e_mean // 7 AS BIGINT) AS mae_mean_e4,
           CAST(e_drift // 7 AS BIGINT) AS mae_drift_e4,
           CAST(e_combo // 7 AS BIGINT) AS mae_combo_e4
    FROM errs
    """,
)
def ts_forecast_combination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST COMBINATION BACKTEST (round 11): hold out the last 7
    days, forecast them with the three classical benchmarks —
    seasonal-naive (y_{t−7}), train mean, drift line — and with
    their EQUAL-WEIGHT AVERAGE, reporting each MAE.  The forecast
    combination puzzle (Bates-Granger): the simple average
    routinely beats its best member because the methods' errors
    decorrelate — the one-line upgrade to ts_backtest_snaive's
    single benchmark, and the readout that justifies (or kills) any
    fancier model someone wants to deploy.

    Exactness: forecasts are double chains over exact bigint train
    constants (mean and drift denominators cleared into the chain,
    written identically both engines); each per-day absolute error
    floors e4 BEFORE the order-free bigint sum; MAEs are exact
    integer division by the 7-day horizon.

    Scale: map-side daily rollup; one lag window on the
    calendar-bounded series; 1-row train-constants broadcast;
    7-row test fold."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("y")
    )
    w_seq = Window.orderBy("d")
    idx = daily.select(
        F.row_number().over(w_seq).cast("bigint").alias("t"),
        "y",
        F.lag("y", 7).over(w_seq).cast("bigint").alias("y_lag7"),
    )
    n_all = idx.agg(F.max("t").alias("nmax"))
    consts = (
        idx.crossJoin(F.broadcast(n_all))
        .agg(
            F.max(F.col("nmax") - 7).cast("bigint").alias("n_tr"),
            F.sum(
                F.when(F.col("t") <= F.col("nmax") - 7, F.col("y"))
            )
            .cast("bigint")
            .alias("s_tr"),
            F.max(F.when(F.col("t") == 1, F.col("y")))
            .cast("bigint")
            .alias("y1"),
            F.max(F.when(F.col("t") == F.col("nmax") - 7, F.col("y")))
            .cast("bigint")
            .alias("yn"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    test = (
        idx.crossJoin(F.broadcast(consts))
        .filter(F.col("t") > F.col("n_tr"))
        .select(
            "y",
            "y_lag7",
            (d("s_tr") / d("n_tr")).alias("f_mean"),
            (
                d("yn")
                + (F.col("t") - F.col("n_tr")).cast("double")
                * (d("yn") - d("y1"))
                / (d("n_tr") - 1.0)
            ).alias("f_drift"),
        )
    )
    def _fe4(expr):
        return F.sum(F.floor(F.abs(expr) * 10000).cast("bigint")).cast("bigint")

    errs = test.agg(
        _fe4(d("y") - d("y_lag7")).alias("e_snaive"),
        _fe4(d("y") - F.col("f_mean")).alias("e_mean"),
        _fe4(d("y") - F.col("f_drift")).alias("e_drift"),
        _fe4(
            d("y") - (d("y_lag7") + F.col("f_mean") + F.col("f_drift")) / 3.0
        ).alias("e_combo"),
    )
    return errs.select(
        F.lit(7).cast("bigint").alias("horizon"),
        (F.col("e_snaive") / 7).cast("bigint").alias("mae_snaive_e4"),
        (F.col("e_mean") / 7).cast("bigint").alias("mae_mean_e4"),
        (F.col("e_drift") / 7).cast("bigint").alias("mae_drift_e4"),
        (F.col("e_combo") / 7).cast("bigint").alias("mae_combo_e4"),
    )


@query(
    "ts_cointegration_eg",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM daily
    ), resid AS (
        SELECT d.d,
               CAST(FLOOR(CAST(d.y AS DOUBLE)
                   - (CAST(s.sy AS DOUBLE) * s.sxx
                      - CAST(s.sx AS DOUBLE) * s.sxy)
                     / (CAST(s.n AS DOUBLE) * s.sxx
                        - CAST(s.sx AS DOUBLE) * s.sx)
                   - (CAST(s.n AS DOUBLE) * s.sxy
                      - CAST(s.sx AS DOUBLE) * s.sy)
                     / (CAST(s.n AS DOUBLE) * s.sxx
                        - CAST(s.sx AS DOUBLE) * s.sx)
                     * d.x) AS BIGINT) AS r
        FROM daily d, sums s
    ), pairs AS (
        SELECT CAST(r - LAG(r) OVER (ORDER BY d) AS BIGINT) AS w,
               CAST(LAG(r) OVER (ORDER BY d) AS BIGINT) AS z
        FROM resid QUALIFY LAG(r) OVER (ORDER BY d) IS NOT NULL
    ), dfsums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(z * w) AS BIGINT) AS szw,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(w * w) AS BIGINT) AS sww
        FROM pairs
    )
    SELECT m AS n_pairs,
           CAST(FLOOR(CAST(szw AS DOUBLE) / CAST(szz AS DOUBLE)
                      * 1000000) AS BIGINT) AS rho_e6,
           CAST(FLOOR(CAST(szw AS DOUBLE)
                      * SQRT((CAST(m AS DOUBLE) - 1.0)
                             / (CAST(szz AS DOUBLE) * CAST(sww AS DOUBLE)
                                - CAST(szw AS DOUBLE)
                                  * CAST(szw AS DOUBLE)))
                      * 1000000) AS BIGINT) AS eg_t_e6
    FROM dfsums
    """,
)
def ts_cointegration_eg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGLE-GRANGER COINTEGRATION TEST (round 11), two-step, on the
    daily (count, mean-value) pair: regress y on x, then run the
    no-constant Dickey-Fuller on the RESIDUAL — if two trending
    series are cointegrated their residual is stationary (eg_t ≪
    −3.4 rejects no-cointegration) and an error-correction model is
    licensed; if not, any regression between them is the classic
    spurious-regression trap.  Completes the unit-root kit:
    ts_dickey_fuller (one series), ts_kpss_level (mirrored null),
    EG (the PAIR).

    Exactness: step-1 OLS coefficients come from exact bigint sums;
    each residual folds in ONE double chain floored to an e4-unit
    integer (flooring the residual, never its huge cleared form —
    the r11 overflow discipline); step-2 sums over those floored
    integers are exact bigints; ρ̂ and the uncentered-OLS t fold in
    one double chain each, floored e6.

    Scale: map-side daily rollup, one 1-row sums broadcast, one lag
    window on the calendar-bounded residual series, 1-row finish."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x"),
        # exact int64 DIV matching the oracle's `//` (ADVICE r11)
        F.expr(
            "CAST(sum(CAST(floor(value * 10000) AS BIGINT))"
            " DIV count(*) AS BIGINT)"
        ).alias("y"),
    )
    sums = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    det = d_("n") * d_("sxx") - d_("sx") * d_("sx")
    a = (d_("sy") * d_("sxx") - d_("sx") * d_("sxy")) / det
    b = (d_("n") * d_("sxy") - d_("sx") * d_("sy")) / det
    resid = daily.crossJoin(F.broadcast(sums)).select(
        "d",
        F.floor(d_("y") - a - b * F.col("x").cast("double"))
        .cast("bigint")
        .alias("r"),
    )
    w_seq = Window.orderBy("d")
    pairs = (
        resid.select(
            (F.col("r") - F.lag("r").over(w_seq)).cast("bigint").alias("w"),
            F.lag("r").over(w_seq).cast("bigint").alias("z"),
        )
        .filter(F.col("z").isNotNull())
    )
    dfsums = pairs.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.col("z") * F.col("w")).cast("bigint").alias("szw"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("sww"),
    )
    return dfsums.select(
        F.col("m").alias("n_pairs"),
        F.floor(d_("szw") / d_("szz") * 1000000)
        .cast("bigint")
        .alias("rho_e6"),
        F.floor(
            d_("szw")
            * F.sqrt(
                (d_("m") - 1.0)
                / (d_("szz") * d_("sww") - d_("szw") * d_("szw"))
            )
            * 1000000
        )
        .cast("bigint")
        .alias("eg_t_e6"),
    )


@query(
    "events_survival_rmst",
    """
    WITH anchor AS (
        SELECT MAX(CAST(ts AS DATE)) AS corpus_max FROM events
    ), users AS (
        SELECT user_id,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) AS t,
               MAX(CAST(ts AS DATE)) <
                   (SELECT corpus_max FROM anchor) - 3 AS churned
        FROM events GROUP BY user_id
    ), times AS (
        SELECT t,
               CAST(COUNT(*) AS BIGINT) AS n_at,
               CAST(COUNT(*) FILTER (churned) AS BIGINT) AS d
        FROM users GROUP BY t
    ), risk AS (
        SELECT t, d,
               CAST(SUM(n_at) OVER (ORDER BY t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_risk
        FROM times
    ), steps AS (
        SELECT t,
               CASE WHEN d < n_risk THEN
                   CAST(FLOOR(exp(CAST(SUM(CAST(FLOOR(
                       ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                       * 1000000000) AS BIGINT)) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE) / 1000000000) * 1000000) AS BIGINT)
               ELSE 0 END AS surv_e6
        FROM risk WHERE d > 0
    ), capped AS (
        SELECT t, surv_e6,
               LAG(t) OVER (ORDER BY t) AS prev_t,
               LAG(surv_e6) OVER (ORDER BY t) AS prev_s
        FROM steps WHERE t <= 14
    ), area AS (
        SELECT CAST(SUM(CASE WHEN prev_t IS NULL
                        THEN 1000000 * t
                        ELSE prev_s * (t - prev_t) END) AS BIGINT) AS a,
               CAST(MAX(t) AS BIGINT) AS last_t,
               CAST(MAX_BY(surv_e6, t) AS BIGINT) AS last_s,
               CAST(COUNT(*) AS BIGINT) AS n_steps
        FROM capped
    )
    SELECT CAST(14 AS BIGINT) AS tau_days, n_steps,
           CAST(COALESCE(a, 0)
                + COALESCE(last_s, 1000000) * (14 - COALESCE(last_t, 0))
                AS BIGINT) AS rmst_day_e6
    FROM area
    """,
)
def events_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTRICTED MEAN SURVIVAL TIME (round 11), τ = 14 days: the
    area under the Kaplan-Meier curve up to the horizon — 'expected
    active days in the first fortnight', the ONE-NUMBER summary
    regulators and A/B readouts prefer over eyeballing two curves
    (and the estimand that stays valid when hazards cross and the
    log-rank test loses power).  Completes the survival kit: KM
    (curve), Nelson-Aalen (hazard), log-rank (test), C-index
    (discrimination), RMST (effect size).

    Exactness: reuses events_survival_km's log-space discipline —
    per-step ln terms floored e9, prefix-summed as exact bigints,
    ONE exp per step floored e6; the area fold is then pure integer
    arithmetic (surv_e6 × whole days), including the tail rectangle
    to τ.

    Scale: the KM shape exactly (map-side user agg, |distinct
    lifetimes| rows, 1-row finish)."""
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("corpus_max"))
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_d"),
            F.max(F.col("ts").cast("date")).alias("last_d"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.datediff("last_d", "first_d").alias("t"),
            (F.col("last_d") < F.date_sub(F.col("corpus_max"), 3)).alias(
                "churned"
            ),
        )
    )
    times = users.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_at"),
        F.count_if(F.col("churned")).cast("bigint").alias("d"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = times.select(
        "t",
        "d",
        F.sum("n_at").over(w_desc).cast("bigint").alias("n_risk"),
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    term = F.floor(
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"))
        * 1000000000
    ).cast("bigint")
    steps = (
        risk.filter(F.col("d") > 0)
        .select(
            "t",
            "d",
            "n_risk",
            F.when(
                F.col("d") < F.col("n_risk"),
                F.floor(
                    F.exp(
                        F.sum(term).over(w_asc).cast("double") / 1000000000
                    )
                    * 1000000
                ).cast("bigint"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("surv_e6"),
        )
    )
    w_seq = Window.orderBy("t")
    capped = steps.filter(F.col("t") <= 14).select(
        "t",
        "surv_e6",
        F.lag("t").over(w_seq).alias("prev_t"),
        F.lag("surv_e6").over(w_seq).alias("prev_s"),
    )
    area = capped.agg(
        F.sum(
            F.when(
                F.col("prev_t").isNull(), F.lit(1000000) * F.col("t")
            ).otherwise(F.col("prev_s") * (F.col("t") - F.col("prev_t")))
        )
        .cast("bigint")
        .alias("a"),
        F.max("t").cast("bigint").alias("last_t"),
        F.max_by("surv_e6", "t").cast("bigint").alias("last_s"),
        F.count("*").cast("bigint").alias("n_steps"),
    )
    # no KM step before tau => S(t)=1 on [0,tau) and RMST = tau
    # exactly (COALESCE defaults, identical both engines)
    return area.select(
        F.lit(14).cast("bigint").alias("tau_days"),
        "n_steps",
        (
            F.coalesce(F.col("a"), F.lit(0))
            + F.coalesce(F.col("last_s"), F.lit(1000000))
            * (14 - F.coalesce(F.col("last_t"), F.lit(0)))
        )
        .cast("bigint")
        .alias("rmst_day_e6"),
    )


@query(
    "ts_stationarity_verdict",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), pairs AS (
        SELECT CAST(x - LAG(x) OVER (ORDER BY d) AS BIGINT) AS y,
               CAST(LAG(x) OVER (ORDER BY d) AS BIGINT) AS z
        FROM daily QUALIFY LAG(x) OVER (ORDER BY d) IS NOT NULL
    ), dfs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z) AS BIGINT) AS sz, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(z * y) AS BIGINT) AS szy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs
    ), df_t AS (
        SELECT CAST(FLOOR(CAST(n * szy - sz * sy AS DOUBLE)
                   * SQRT((CAST(n AS DOUBLE) - 2.0)
                          / (CAST(n * szz - sz * sz AS DOUBLE)
                             * CAST(n * syy - sy * sy AS DOUBLE)
                             - CAST(n * szy - sz * sy AS DOUBLE)
                               * CAST(n * szy - sz * sy AS DOUBLE)))
                   * 1000000) AS BIGINT) AS t FROM dfs
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM daily
    ), e AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY daily.d) AS BIGINT) AS i,
               CAST(tot.n * daily.x - tot.s AS BIGINT) AS ne
        FROM daily, tot
    ), parts AS (
        SELECT ne,
               CAST(SUM(ne) OVER (ORDER BY i) AS BIGINT) AS ns,
               CAST(LAG(ne, 1) OVER (ORDER BY i) AS BIGINT) AS ne1,
               CAST(LAG(ne, 2) OVER (ORDER BY i) AS BIGINT) AS ne2,
               CAST(LAG(ne, 3) OVER (ORDER BY i) AS BIGINT) AS ne3,
               CAST(LAG(ne, 4) OVER (ORDER BY i) AS BIGINT) AS ne4
        FROM e
    ), kp AS (
        SELECT CAST(FLOOR(5.0 * CAST(SUM(CAST(FLOOR(CAST(ns AS DOUBLE)
                       * CAST(ns AS DOUBLE)
                       / (SELECT CAST(n * n AS DOUBLE) FROM tot))
                       AS BIGINT)) AS DOUBLE)
                   / (CAST((SELECT n FROM tot) AS DOUBLE)
                      * CAST(5 * SUM(ne * ne) + 8 * SUM(ne * ne1)
                             + 6 * SUM(ne * ne2) + 4 * SUM(ne * ne3)
                             + 2 * SUM(ne * ne4) AS DOUBLE))
                   * 1000000) AS BIGINT) AS k FROM parts
    )
    SELECT d.t AS df_t_e6, k.k AS kpss_e6,
           CASE WHEN d.t < -2900000 AND k.k < 463000 THEN 'stationary'
                WHEN d.t >= -2900000 AND k.k >= 463000 THEN 'unit_root'
                WHEN d.t < -2900000 AND k.k >= 463000
                    THEN 'conflict_check_breaks'
                ELSE 'inconclusive' END AS verdict
    FROM df_t d, kp k
    """,
)
def ts_stationarity_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOUR-QUADRANT STATIONARITY VERDICT (round 11): run the
    Dickey-Fuller (null = unit root) and KPSS (null = stationary)
    on the SAME series and read the joint cell — the decision table
    every forecasting text prescribes, because each test alone is
    uninterpretable on failure-to-reject: DF rejects & KPSS accepts
    → stationary; neither rejects → unit root (difference it); both
    reject → structural break / wrong spec (neither differencing
    nor levels is safe — the case people miss); neither informative
    → inconclusive (short series).  Composes ts_dickey_fuller and
    ts_kpss_level's exact machinery with the canonical 5% critical
    values (−2.9, 0.463) as shared integer-scaled literals.

    Exactness: identical floored chains to the two parent operators;
    the verdict is pure integer threshold comparison on the already-
    floored statistics.

    Scale: the parents' shapes side by side; one-row finish."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    w_seq = Window.orderBy("d")
    pairs = (
        daily.select(
            (F.col("x") - F.lag("x").over(w_seq)).cast("bigint").alias("y"),
            F.lag("x").over(w_seq).cast("bigint").alias("z"),
        )
        .filter(F.col("z").isNotNull())
    )
    dfs = pairs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("z") * F.col("y")).cast("bigint").alias("szy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n = F.col("n")
    a = (n * F.col("szy") - F.col("sz") * F.col("sy")).cast("double")
    b = (n * F.col("szz") - F.col("sz") * F.col("sz")).cast("double")
    c = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    nd = n.cast("double")
    df_t = dfs.select(
        F.floor(a * F.sqrt((nd - 2.0) / (b * c - a * a)) * 1000000)
        .cast("bigint")
        .alias("df_t_e6")
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    e = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        (F.col("n") * F.col("x") - F.col("s")).cast("bigint").alias("ne"),
    )
    parts = e.select(
        "n",
        "ne",
        F.sum("ne").over(w_seq).cast("bigint").alias("ns"),
        F.lag("ne", 1).over(w_seq).cast("bigint").alias("ne1"),
        F.lag("ne", 2).over(w_seq).cast("bigint").alias("ne2"),
        F.lag("ne", 3).over(w_seq).cast("bigint").alias("ne3"),
        F.lag("ne", 4).over(w_seq).cast("bigint").alias("ne4"),
    )
    nsd = F.col("ns").cast("double")
    nd2 = F.col("n").cast("double")
    kp = parts.agg(
        F.floor(
            5.0
            * F.sum(
                F.floor(nsd * nsd / (nd2 * nd2)).cast("bigint")
            ).cast("double")
            / (
                F.max("n").cast("double")
                * (
                    5 * F.sum(F.col("ne") * F.col("ne"))
                    + 8 * F.sum(F.col("ne") * F.col("ne1"))
                    + 6 * F.sum(F.col("ne") * F.col("ne2"))
                    + 4 * F.sum(F.col("ne") * F.col("ne3"))
                    + 2 * F.sum(F.col("ne") * F.col("ne4"))
                ).cast("double")
            )
            * 1000000
        )
        .cast("bigint")
        .alias("kpss_e6")
    )
    verdict = (
        F.when(
            (F.col("df_t_e6") < -2900000) & (F.col("kpss_e6") < 463000),
            "stationary",
        )
        .when(
            (F.col("df_t_e6") >= -2900000) & (F.col("kpss_e6") >= 463000),
            "unit_root",
        )
        .when(
            (F.col("df_t_e6") < -2900000) & (F.col("kpss_e6") >= 463000),
            "conflict_check_breaks",
        )
        .otherwise("inconclusive")
    )
    return df_t.crossJoin(F.broadcast(kp)).select(
        "df_t_e6", "kpss_e6", verdict.alias("verdict")
    )


# ---------------------------------------------------------------------------
# Round 12: daily-candle risk estimators (ulcer, Garman-Klass,
# Parkinson) and the Wald-Wolfowitz runs test on daily moves — the
# downside/efficiency readouts a market-data or chain-fee consumer
# runs over any value stream once it has a daily tape.
# ---------------------------------------------------------------------------

# 2*ln(2)-1 and 1/(4*ln(2)) as shared literals: libm ln can differ in
# the last ulp between JVM and C, so the CONSTANTS never go through
# either engine's ln (the ts_periodogram_peaks literal discipline).
_GK_C = "0.3862943611198906"
_PK_C = "0.36067376022224085"

_DAILY_CLOSE_SQL = """
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(FLOOR(value * 10000) AS BIGINT) AS close_e4
        FROM (
            SELECT event_type, ts, value,
                   row_number() OVER (PARTITION BY event_type,
                                      CAST(ts AS DATE)
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn
            FROM events
        ) WHERE rn = 1
"""


def _daily_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, close_e4) — last value of each day per series,
    the shared tape of the round-12 candle family. One keyed window
    (partitioned by type AND day — never global)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * 10000).cast("bigint").alias("close_e4"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "ts_ulcer_index",
    f"""
    WITH closes AS ({_DAILY_CLOSE_SQL}
    ), dd AS (
        SELECT event_type,
               CASE WHEN peak > 0
                    THEN (peak - close_e4) * 1000000 // peak
                    ELSE 0 END AS dd_e6
        FROM (
            SELECT event_type, close_e4,
                   CAST(MAX(close_e4) OVER (PARTITION BY event_type
                        ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS peak
            FROM closes
        )
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(dd_e6) AS BIGINT) AS max_dd_e6,
           CAST(FLOOR(SQRT(CAST(SUM(dd_e6 * dd_e6) AS DOUBLE)
                           / COUNT(*))) AS BIGINT) AS ulcer_e6
    FROM dd GROUP BY event_type ORDER BY event_type
    """,
)
def ts_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ULCER INDEX per series (round 12): RMS of the daily percentage
    drawdown from the running peak of the daily close — the
    depth-AND-duration downside measure (ts_max_drawdown reports only
    the single worst excursion; the ulcer index charges every day
    spent under water, which is what a drawdown-averse consumer
    actually experiences).

    Exactness: closes are e4 integers off one keyed last-of-day
    window; the running peak is an integer window max; each day's
    drawdown pct is (peak-close)*1e6 DIV peak — ALL-INTEGER (products
    bounded by the value domain, not the row count); only the final
    RMS takes one double sqrt over exact bigint sums.

    Scale: one map-reducible daily rollup, two keyed windows on the
    calendar-bounded tape, |types|-row finish — the ts_max_drawdown
    prefix-scan shape."""
    closes = _daily_close(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = closes.select(
        "event_type",
        F.max("close_e4").over(w).cast("bigint").alias("peak"),
        "close_e4",
    ).select(
        "event_type",
        F.when(
            F.col("peak") > 0,
            F.expr("(peak - close_e4) * 1000000 DIV peak"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("dd_e6"),
    )
    return (
        dd.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.max("dd_e6").cast("bigint").alias("max_dd_e6"),
            F.floor(
                F.sqrt(
                    F.sum(F.col("dd_e6") * F.col("dd_e6")).cast("double")
                    / F.count("*")
                )
            )
            .cast("bigint")
            .alias("ulcer_e6"),
        )
        .orderBy("event_type")
    )


_DAILY_OHLC_SQL = """
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(MAX(v1) AS BIGINT) AS h1,
               CAST(MIN(v1) AS BIGINT) AS l1,
               CAST(MAX(CASE WHEN rn_a = 1 THEN v1 END) AS BIGINT) AS o1,
               CAST(MAX(CASE WHEN rn_d = 1 THEN v1 END) AS BIGINT) AS c1
        FROM (
            SELECT event_type, ts,
                   CAST(FLOOR(value * 10000) AS BIGINT) + 1 AS v1,
                   row_number() OVER (PARTITION BY event_type,
                                      CAST(ts AS DATE)
                                      ORDER BY ts ASC, event_id ASC)
                       AS rn_a,
                   row_number() OVER (PARTITION BY event_type,
                                      CAST(ts AS DATE)
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn_d
            FROM events
        ) GROUP BY 1, 2
"""


def _daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, h1, l1, o1, c1) daily candles in SHIFTED e4
    integers (v+1 so every ln argument is strictly positive — the
    value domain includes exact zeros). Two same-spec keyed windows
    Catalyst coalesces into one exchange."""
    ev = load(spark, sf_dir, "events")
    v1 = (F.floor(F.col("value") * 10000).cast("bigint") + 1).alias("v1")
    wa = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    base = ev.select(
        "event_type",
        F.to_date("ts").alias("d"),
        v1,
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return base.groupBy("event_type", "d").agg(
        F.max("v1").cast("bigint").alias("h1"),
        F.min("v1").cast("bigint").alias("l1"),
        F.max(F.when(F.col("rn_a") == 1, F.col("v1")))
        .cast("bigint")
        .alias("o1"),
        F.max(F.when(F.col("rn_d") == 1, F.col("v1")))
        .cast("bigint")
        .alias("c1"),
    )


@query(
    "ts_garman_klass_vol",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), terms AS (
        SELECT event_type,
               CAST(FLOOR((0.5 * ln(CAST(h1 AS DOUBLE) / l1)
                               * ln(CAST(h1 AS DOUBLE) / l1)
                           - {_GK_C} * ln(CAST(c1 AS DOUBLE) / o1)
                                     * ln(CAST(c1 AS DOUBLE) / o1))
                          * 100000000) AS BIGINT) AS term_e8
        FROM ohlc
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(FLOOR(CAST(SUM(term_e8) AS DOUBLE) / COUNT(*))
                AS BIGINT) AS gk_var_e8,
           CASE WHEN SUM(term_e8) > 0 THEN
               CAST(FLOOR(SQRT(CAST(SUM(term_e8) AS DOUBLE) / COUNT(*)))
                    AS BIGINT) END AS gk_vol_e4
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def ts_garman_klass_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARMAN-KLASS range volatility per series (round 12): the
    OHLC-efficient daily variance estimator 0.5·ln(H/L)² −
    (2ln2−1)·ln(C/O)² averaged over days — ~7.4× more efficient per
    day than close-to-close variance because the intraday RANGE
    carries most of the information; the candle complement to
    ts_realized_vol-style close-only readouts and the estimator a fee
    or price tape deserves once _daily_ohlc exists.

    Exactness: candles are shifted e4 integers (v+1 keeps every ln
    argument > 0 on a domain with exact zeros); 2ln2−1 is a SHARED
    LITERAL so no libm ln(2) divergence; each day's term floors e8
    BEFORE the order-free bigint sum; the variance floors ONE double
    division (FLOOR(double), not DIV — GK day terms can be negative
    and DuckDB `//` floors where Spark DIV truncates); the vol sqrt
    is gated on a positive variance sum.

    Scale: one daily keyed rollup (two coalesced windows), bigint
    partial sums, |types|-row finish."""
    ohlc = _daily_ohlc(spark, sf_dir)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    lr_hl = F.log(d("h1") / F.col("l1"))
    lr_co = F.log(d("c1") / F.col("o1"))
    terms = ohlc.select(
        "event_type",
        F.floor(
            (
                0.5 * lr_hl * lr_hl
                - F.lit(float(_GK_C)) * lr_co * lr_co
            )
            * 100000000
        )
        .cast("bigint")
        .alias("term_e8"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.floor(F.sum("term_e8").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("gk_var_e8"),
            F.when(
                F.sum("term_e8") > 0,
                F.floor(
                    F.sqrt(F.sum("term_e8").cast("double") / F.count("*"))
                ).cast("bigint"),
            ).alias("gk_vol_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_parkinson_vol",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), terms AS (
        SELECT event_type,
               CAST(FLOOR({_PK_C} * ln(CAST(h1 AS DOUBLE) / l1)
                                  * ln(CAST(h1 AS DOUBLE) / l1)
                          * 100000000) AS BIGINT) AS term_e8
        FROM ohlc
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(term_e8) // COUNT(*) AS BIGINT) AS pk_var_e8,
           CAST(FLOOR(SQRT(CAST(SUM(term_e8) AS DOUBLE) / COUNT(*)))
                AS BIGINT) AS pk_vol_e4
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def ts_parkinson_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARKINSON range volatility per series (round 12): ln(H/L)² /
    (4ln2) averaged over days — the high-low-only estimator (~4.9×
    close-to-close efficiency) for tapes where open/close are
    unreliable but the daily extremes are trustworthy; read NEXT TO
    ts_garman_klass_vol: Parkinson ≫ GK flags days where the range is
    wide but open-to-close is quiet (mean-reverting chop vs trend).

    Exactness: same shifted-e4 candles and shared 1/(4ln2) literal;
    Parkinson day terms are ≥ 0 by construction so the variance is an
    exact integer DIV (matching the oracle's `//`); vol is one double
    sqrt chain.

    Scale: identical to ts_garman_klass_vol — the candle rollup is
    the only exchange."""
    ohlc = _daily_ohlc(spark, sf_dir)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    lr_hl = F.log(d("h1") / F.col("l1"))
    terms = ohlc.select(
        "event_type",
        F.floor(F.lit(float(_PK_C)) * lr_hl * lr_hl * 100000000)
        .cast("bigint")
        .alias("term_e8"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.expr("CAST(sum(term_e8) DIV count(*) AS BIGINT)").alias(
                "pk_var_e8"
            ),
            F.floor(
                F.sqrt(F.sum("term_e8").cast("double") / F.count("*"))
            )
            .cast("bigint")
            .alias("pk_vol_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_runs_up_down",
    f"""
    WITH closes AS ({_DAILY_CLOSE_SQL}
    ), moves AS (
        SELECT event_type,
               d,
               CASE WHEN diff > 0 THEN 1 ELSE -1 END AS sgn
        FROM (
            SELECT event_type, d,
                   close_e4 - lag(close_e4) OVER (PARTITION BY event_type
                                                  ORDER BY d) AS diff
            FROM closes
        ) WHERE diff IS NOT NULL AND diff <> 0
    ), runs AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_moves,
               CAST(SUM(CASE WHEN prev IS NULL OR sgn <> prev
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        FROM (
            SELECT event_type, sgn,
                   lag(sgn) OVER (PARTITION BY event_type ORDER BY d)
                       AS prev
            FROM moves
        ) GROUP BY 1
    )
    SELECT event_type, n_moves, n_runs,
           CAST((2 * n_moves - 1) * 1000000 // 3 AS BIGINT)
               AS expected_runs_e6,
           CASE WHEN n_moves >= 3 THEN
               CAST(FLOOR((CAST(n_runs AS DOUBLE)
                           - (2.0 * n_moves - 1.0) / 3.0)
                          / SQRT((16.0 * n_moves - 29.0) / 90.0)
                          * 10000) AS BIGINT) END AS z_e4
    FROM runs ORDER BY event_type
    """,
)
def ts_runs_up_down(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNS-UP-AND-DOWN test per series (round 12): count maximal
    monotone runs in the daily close's up/down move sequence and
    z-score against the i.i.d. expectation (2n−1)/3, variance
    (16n−29)/90 — the turning-point randomness screen that catches
    both momentum (too FEW runs) and oscillating mean-reversion (too
    MANY) where agg_runs_test's above/below-median form sees neither
    (a steady ramp has ONE median run but alternating up-moves).
    Complements ts_turning_points (which counts local extrema) with
    the calibrated two-sided z.

    Exactness: moves are integer close diffs off one keyed lag (zero
    diffs dropped on BOTH sides — ties carry no direction); run
    boundaries are integer compares; expected runs is an exact
    integer DIV e6 (operands non-negative); only the z leaves
    integers, floored e4, gated n ≥ 3 so the variance is positive.

    Scale: three stacked keyed windows on the calendar-bounded daily
    tape (never global); |types|-row finish."""
    closes = _daily_close(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    moves = (
        closes.select(
            "event_type",
            "d",
            (F.col("close_e4") - F.lag("close_e4").over(w)).alias("diff"),
        )
        .filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
        .select(
            "event_type",
            "d",
            F.when(F.col("diff") > 0, 1).otherwise(-1).alias("sgn"),
        )
    )
    marked = moves.select(
        "event_type",
        "sgn",
        F.lag("sgn").over(w).alias("prev"),
    )
    runs = marked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_moves"),
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("sgn") != F.col("prev")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    nm = F.col("n_moves").cast("double")
    return runs.select(
        "event_type",
        "n_moves",
        "n_runs",
        F.expr(
            "CAST((2 * n_moves - 1) * 1000000 DIV 3 AS BIGINT)"
        ).alias("expected_runs_e6"),
        F.when(
            F.col("n_moves") >= 3,
            F.floor(
                (F.col("n_runs").cast("double") - (2.0 * nm - 1.0) / 3.0)
                / F.sqrt((16.0 * nm - 29.0) / 90.0)
                * 10000
            ).cast("bigint"),
        ).alias("z_e4"),
    ).orderBy("event_type")


@query(
    "events_cox_score_1cov",
    """
    WITH users AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS x,
               CAST(MIN(CASE WHEN event_type = 'purchase'
                             THEN day(ts) END) AS BIGINT) AS ev_day
        FROM events GROUP BY 1
    ), totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(x) AS BIGINT) AS n1
        FROM users
    ), days AS (
        SELECT ev_day AS t,
               CAST(COUNT(*) AS BIGINT) AS d_all,
               CAST(SUM(x) AS BIGINT) AS d1
        FROM users WHERE ev_day IS NOT NULL GROUP BY 1
    ), tape AS (
        SELECT t, d_all, d1, tt.n_users, tt.n1,
               CAST(tt.n_users
                    - COALESCE(SUM(d_all) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS at_risk,
               CAST(tt.n1
                    - COALESCE(SUM(d1) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS at_risk1
        FROM days, totals tt
    ), terms AS (
        SELECT n_users,
               CAST(SUM(d_all) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR((d1 - d_all
                    * (CAST(at_risk1 AS DOUBLE) / at_risk)) * 1000000)
                    AS BIGINT)) AS BIGINT) AS u_e6,
               CAST(SUM(CAST(FLOOR(d_all
                    * (CAST(at_risk1 AS DOUBLE) / at_risk)
                    * (1.0 - CAST(at_risk1 AS DOUBLE) / at_risk)
                    * 1000000) AS BIGINT)) AS BIGINT) AS v_e6
        FROM tape GROUP BY n_users
    )
    SELECT n_users, n_events, u_e6, v_e6,
           CASE WHEN v_e6 > 0 THEN
               CAST(FLOOR(CAST(u_e6 AS DOUBLE) / 1000000.0
                          / SQRT(CAST(v_e6 AS DOUBLE) / 1000000.0)
                          * 10000) AS BIGINT) END AS z_e4
    FROM terms
    """,
)
def events_cox_score_1cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COX PROPORTIONAL-HAZARDS SCORE TEST, one binary covariate
    (round 12): does the user-parity arm change the hazard of the
    first purchase?  The score U = Σ_t [d₁(t) − d(t)·r₁(t)/r(t)]
    (Breslow tie handling at day granularity) with information
    V = Σ_t d(t)·p(1−p) is the log-rank-family test in its
    regression form — the bridge between events_survival_logrank
    (two fixed arms, KM machinery) and a real Cox fit: U/√V is the
    score z, the first Newton step of the partial likelihood at β=0.

    Exactness: event days, arm totals and risk-set counts are exact
    integers off a bounded day tape (risk sets = totals minus
    cumulative prior events — censoring happens only at the end);
    each day's U and V terms floor e6 BEFORE the order-free sums
    (one double division per term); z gated on V > 0.

    Scale: per-user rollup (keyed), then everything runs on the
    ≤31-row calendar tape — the ts daily-tape discipline; at 100 TB
    the user rollup is the only corpus-sized stage."""
    ev = load(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.dayofmonth("ts")
            )
        )
        .cast("bigint")
        .alias("ev_day"),
    ).select(
        (F.col("user_id") % 2).cast("bigint").alias("x"), "ev_day"
    )
    totals = users.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("n1"),
    )
    days = (
        users.filter(F.col("ev_day").isNotNull())
        .groupBy(F.col("ev_day").alias("t"))
        .agg(
            F.count("*").cast("bigint").alias("d_all"),
            F.sum("x").cast("bigint").alias("d1"),
        )
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tape = days.crossJoin(F.broadcast(totals)).select(
        "t",
        "d_all",
        "d1",
        "n_users",
        (
            F.col("n_users")
            - F.coalesce(F.sum("d_all").over(wprev), F.lit(0))
        )
        .cast("bigint")
        .alias("at_risk"),
        (F.col("n1") - F.coalesce(F.sum("d1").over(wprev), F.lit(0)))
        .cast("bigint")
        .alias("at_risk1"),
    )
    p = F.col("at_risk1").cast("double") / F.col("at_risk")
    terms = tape.groupBy("n_users").agg(
        F.sum("d_all").cast("bigint").alias("n_events"),
        F.sum(
            F.floor((F.col("d1") - F.col("d_all") * p) * 1000000).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("u_e6"),
        F.sum(
            F.floor(F.col("d_all") * p * (1.0 - p) * 1000000).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("v_e6"),
    )
    return terms.select(
        "n_users",
        "n_events",
        "u_e6",
        "v_e6",
        F.when(
            F.col("v_e6") > 0,
            F.floor(
                F.col("u_e6").cast("double")
                / 1000000.0
                / F.sqrt(F.col("v_e6").cast("double") / 1000000.0)
                * 10000
            ).cast("bigint"),
        ).alias("z_e4"),
    )


@query(
    "ts_amihud_illiquidity",
    f"""
    WITH closes AS ({_DAILY_CLOSE_SQL}
    ), vol AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS vol_e4
        FROM events GROUP BY 1, 2
    ), days AS (
        SELECT c.event_type, c.d, c.close_e4, v.vol_e4,
               lag(c.close_e4) OVER (PARTITION BY c.event_type
                                     ORDER BY c.d) AS prev
        FROM closes c JOIN vol v
          ON v.event_type = c.event_type AND v.d = c.d
    ), terms AS (
        SELECT event_type,
               CAST(abs(close_e4 - prev) * 1000000 // prev AS BIGINT)
                   AS ret_e6,
               vol_e4,
               CAST(abs(close_e4 - prev) * 1000000 // prev
                    * 1000000 // vol_e4 AS BIGINT) AS illiq_e12
        FROM days WHERE prev IS NOT NULL AND prev > 0 AND vol_e4 > 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ret_e6) // COUNT(*) AS BIGINT) AS mean_abs_ret_e6,
           CAST(SUM(illiq_e12) // COUNT(*) AS BIGINT) AS amihud_e12
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def ts_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIHUD ILLIQUIDITY per series (round 12): mean of |daily
    return| per unit of daily volume — the price-IMPACT readout the
    candle family lacks: ts_garman_klass_vol says how much the tape
    moves; Amihud says how much it moves PER UNIT OF FLOW, the
    standard proxy for thin markets / manipulable fee tapes (a chain
    whose fee rate jumps on tiny volume is illiquid in exactly this
    sense).

    Exactness: ALL-INTEGER — |return| is abs(Δclose)·1e6 DIV prev
    (non-negative, so DuckDB `//` ≡ Spark DIV), the per-day impact
    ratio divides the e6 return by the exact e4 volume in a second
    non-negative DIV, and day means are integer DIV; zero-volume and
    zero-prev days excluded on both sides.

    Scale: the shared daily-close window + a map-side volume rollup
    joined on (type, day); |types|-row finish."""
    closes = _daily_close(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    vol = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("vol_e4")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    days = closes.join(vol, ["event_type", "d"]).select(
        "event_type",
        "d",
        "close_e4",
        "vol_e4",
        F.lag("close_e4").over(w).alias("prev"),
    )
    terms = days.filter(
        F.col("prev").isNotNull() & (F.col("prev") > 0) & (F.col("vol_e4") > 0)
    ).select(
        "event_type",
        F.expr(
            "CAST(abs(close_e4 - prev) * 1000000 DIV prev AS BIGINT)"
        ).alias("ret_e6"),
        F.expr(
            "CAST(abs(close_e4 - prev) * 1000000 DIV prev"
            " * 1000000 DIV vol_e4 AS BIGINT)"
        ).alias("illiq_e12"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.expr("CAST(sum(ret_e6) DIV count(*) AS BIGINT)").alias(
                "mean_abs_ret_e6"
            ),
            F.expr("CAST(sum(illiq_e12) DIV count(*) AS BIGINT)").alias(
                "amihud_e12"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "events_preference_shift_bowker",
    """
    WITH halves AS (
        SELECT user_id,
               CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS half,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3
    ), fav AS (
        SELECT user_id, half, event_type AS fav
        FROM (
            SELECT user_id, half, event_type,
                   row_number() OVER (PARTITION BY user_id, half
                                      ORDER BY c DESC, event_type ASC)
                       AS rn
            FROM halves
        ) WHERE rn = 1
    ), paired AS (
        SELECT a.fav AS fav1, b.fav AS fav2
        FROM fav a JOIN fav b
          ON a.user_id = b.user_id AND a.half = 0 AND b.half = 1
    ), cells AS (
        SELECT fav1, fav2, CAST(COUNT(*) AS BIGINT) AS n
        FROM paired GROUP BY 1, 2
    ), pairs AS (
        SELECT COALESCE(u.n, 0) AS nij, COALESCE(l.n, 0) AS nji
        FROM (SELECT DISTINCT LEAST(fav1, fav2) AS lo,
                     GREATEST(fav1, fav2) AS hi
              FROM cells WHERE fav1 <> fav2) p
        LEFT JOIN cells u ON u.fav1 = p.lo AND u.fav2 = p.hi
        LEFT JOIN cells l ON l.fav1 = p.hi AND l.fav2 = p.lo
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(nij + nji) AS BIGINT) AS n_discordant,
           CAST(SUM(CAST(FLOOR(POW(CAST(nij - nji AS DOUBLE), 2)
                    / (nij + nji) * 1000000) AS BIGINT)) AS BIGINT)
               AS chi2_e6
    FROM pairs
    """,
)
def events_preference_shift_bowker(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BOWKER SYMMETRY TEST on preference transitions (round 12): per
    user, the favorite event type in the first half-month vs the
    second; Bowker's χ² = Σ_{i<j} (n_ij−n_ji)²/(n_ij+n_ji) asks
    whether the k×k transition table is SYMMETRIC — i.e. whether
    preference drift has a direction (click→purchase migration ≠
    purchase→click). agg_mcnemar_test (r10) is exactly the k=2
    special case; Bowker completes it for the full category set, df =
    #discordant pairs.

    Exactness: favorites are deterministic (count desc, type asc
    tiebreak); cell counts exact; each pair's χ² term floors e6
    BEFORE the order-free sum; zero-discordant pairs excluded on both
    sides (0/0 is no evidence, not zero evidence).

    Scale: keyed user-half rollup + keyed top-1 window + a
    k²-bounded pair table (k = |event types|) — nothing corpus-sized
    past the first aggregate."""
    ev = load(spark, sf_dir, "events")
    halves = ev.groupBy(
        "user_id",
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("half"),
        "event_type",
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("user_id", "half").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    fav = (
        halves.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "half", F.col("event_type").alias("fav"))
    )
    a = fav.filter(F.col("half") == 0).select(
        "user_id", F.col("fav").alias("fav1")
    )
    b = fav.filter(F.col("half") == 1).select(
        "user_id", F.col("fav").alias("fav2")
    )
    cells = (
        a.join(b, "user_id")
        .groupBy("fav1", "fav2")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    off = cells.filter(F.col("fav1") != F.col("fav2"))
    p = off.select(
        F.least("fav1", "fav2").alias("lo"),
        F.greatest("fav1", "fav2").alias("hi"),
    ).distinct()
    u = cells.select(
        F.col("fav1").alias("lo"), F.col("fav2").alias("hi"),
        F.col("n").alias("nij"),
    )
    lo = cells.select(
        F.col("fav2").alias("lo"), F.col("fav1").alias("hi"),
        F.col("n").alias("nji"),
    )
    pairs = (
        p.join(u, ["lo", "hi"], "left")
        .join(lo, ["lo", "hi"], "left")
        .select(
            F.coalesce(F.col("nij"), F.lit(0)).cast("bigint").alias("nij"),
            F.coalesce(F.col("nji"), F.lit(0)).cast("bigint").alias("nji"),
        )
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum(F.col("nij") + F.col("nji")).cast("bigint").alias(
            "n_discordant"
        ),
        F.sum(
            F.floor(
                F.pow((F.col("nij") - F.col("nji")).cast("double"), F.lit(2.0))
                / (F.col("nij") + F.col("nji"))
                * 1000000
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("chi2_e6"),
    )


@query(
    "ts_ccf_lead_lag",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), tape AS (
        SELECT x, y,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
        FROM daily
    ), lags AS (
        SELECT unnest(range(-5, 6)) AS lag
    ), pairs AS (
        SELECT l.lag, a.x, b.y
        FROM tape a
        CROSS JOIN lags l
        JOIN tape b ON b.t = a.t + l.lag
    ), sums AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, n,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
           THEN CAST(FLOOR((CAST(n AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                           / SQRT((CAST(n AS DOUBLE) * sxx
                                   - CAST(sx AS DOUBLE) * sx)
                                  * (CAST(n AS DOUBLE) * syy
                                     - CAST(sy AS DOUBLE) * sy))
                           * 1000000) AS BIGINT) END AS r_e6
    FROM sums ORDER BY lag
    """,
)
def ts_ccf_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORRELATION FUNCTION, lags −5..+5 (round 12): the full
    lead-lag profile between daily event VOLUME and daily mean VALUE
    — ts_granger_1lag answers 'does x help predict y one step out?'
    with a single F-ish statistic; the CCF shows the whole structure
    (at WHICH lag the relationship peaks, and whether volume leads
    value or lags it), which is what you read before choosing a lag
    for any transfer model.

    Exactness: the daily tape is exact integers (count; mean value by
    integer DIV — the granger/cointegration discipline); per-lag
    sufficient statistics are exact bigints over the aligned-pair
    join; each lag's correlation is ONE double formula floored e6,
    NULLed on zero variance.

    Scale: map-side daily rollup; the 11-lag dim broadcasts into a
    self equi-join on the calendar-bounded tape — O(|days|·|lags|),
    never corpus-sized."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("x"),
        F.expr(
            "CAST(sum(CAST(floor(value * 10000) AS BIGINT))"
            " DIV count(*) AS BIGINT)"
        ).alias("y"),
    )
    tape = daily.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
    )
    lags = spark.range(-5, 6).select(F.col("id").alias("lag"))
    a = tape.alias("a")
    b = tape.select(
        F.col("t").alias("bt"), F.col("y").alias("by")
    ).alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bt") == F.col("a.t") + F.col("lag"))
        .select("lag", F.col("a.x").alias("x"), F.col("by").alias("y"))
    )
    sums = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.floor(
        (d("n") * F.col("sxy") - d("sx") * F.col("sy"))
        / F.sqrt(
            (d("n") * F.col("sxx") - d("sx") * F.col("sx"))
            * (d("n") * F.col("syy") - d("sy") * F.col("sy"))
        )
        * 1000000
    ).cast("bigint")
    return sums.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.when((dx > 0) & (dy > 0), r).alias("r_e6"),
    ).orderBy("lag")


@query(
    "interval_merge_islands",
    """
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + 300000000 AS e,
               event_id
        FROM events
    ), marked AS (
        SELECT user_id, s, e, event_id,
               CASE WHEN prev_max IS NULL OR s > prev_max
                    THEN 1 ELSE 0 END AS new_island
        FROM (
            SELECT user_id, s, e, event_id,
                   MAX(e) OVER (PARTITION BY user_id
                                ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_max
            FROM iv
        )
    ), islands AS (
        SELECT user_id, island_id,
               CAST(MAX(e) - MIN(s) AS BIGINT) AS span_us
        FROM (
            SELECT user_id, s, e,
                   SUM(new_island) OVER (PARTITION BY user_id
                                         ORDER BY s, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND CURRENT ROW)
                       AS island_id
            FROM marked
        ) GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(span_us) AS BIGINT) AS covered_us,
           CAST(MAX(span_us) AS BIGINT) AS max_island_us
    FROM islands GROUP BY 1 ORDER BY user_id
    """,
)
def interval_merge_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-KEY INTERVAL ISLAND MERGE (round 12): each event opens a
    5-minute activity interval; overlapping intervals per user merge
    into maximal islands, reporting island count, total covered time
    and the longest island — the interval form of gaps-and-islands
    (win_gaps_islands chains EQUAL CONSECUTIVE VALUES;
    interval_union_coverage measures ONE GLOBAL union length; this is
    the per-key union STRUCTURE, i.e. sessionization when sessions
    are defined by interval overlap rather than an inactivity gap).

    Exactness: all integer microseconds; an island is a connected
    overlap component, so its union length is exactly max(e)−min(s);
    the new-island flag compares s against the RUNNING MAX of prior
    ends (a plain lag(e) under-merges when an early long interval
    swallows later short ones — the classic island bug, referee'd in
    tests/test_round12_ops.py).

    Scale: two stacked keyed windows (partitioned by user — never
    global) + two keyed rollups; the streaming twin is
    session_window with a 0 gap on padded intervals."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + 300000000).alias(
            "e"
        ),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    # running sum MUST order on the unique (s, event_id): two
    # intervals tying on (s, e) would make the 0/1 flag order
    # ambiguous and could split one island into two
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        marked.select(
            "user_id",
            "s",
            "e",
            F.sum("new_island").over(w_run).alias("island_id"),
        )
        .groupBy("user_id", "island_id")
        .agg((F.max("e") - F.min("s")).cast("bigint").alias("span_us"))
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_islands"),
            F.sum("span_us").cast("bigint").alias("covered_us"),
            F.max("span_us").cast("bigint").alias("max_island_us"),
        )
        .orderBy("user_id")
    )


_DAILY_DELTA_SQL = f"""
        SELECT event_type, d, c1,
               c1 - lag(c1) OVER (PARTITION BY event_type ORDER BY d)
                   AS delta
        FROM ({_DAILY_OHLC_SQL})
"""


def _daily_close_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, c1, delta) — day-over-day close changes in
    shifted e4 integers off the shared ``_daily_ohlc`` candle tape
    (delta NULL on each series' first day).  One keyed lag window on
    the |types|×|days| tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    return ohlc.select(
        "event_type",
        "d",
        "c1",
        (F.col("c1") - F.lag("c1").over(w)).alias("delta"),
    )


@query(
    "ts_rsi_sma",
    f"""
    WITH deltas AS ({_DAILY_DELTA_SQL}
    ), moves AS (
        SELECT event_type, d,
               CAST(GREATEST(delta, 0) AS BIGINT) AS gain,
               CAST(GREATEST(-delta, 0) AS BIGINT) AS loss
        FROM deltas WHERE delta IS NOT NULL
    ), frames AS (
        SELECT event_type, d,
               CAST(COUNT(*) OVER w AS BIGINT) AS n14,
               CAST(SUM(gain) OVER w AS BIGINT) AS sg,
               CAST(SUM(loss) OVER w AS BIGINT) AS sl
        FROM moves
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, d, n14, sg, sl,
           CASE WHEN n14 = 14 AND sg + sl > 0
                THEN CAST((100000000 * sg) // (sg + sl) AS BIGINT)
           END AS rsi_e6
    FROM frames
    """,
)
def ts_rsi_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUTLER'S RSI per series (round 12 cont.): the SMA-form relative
    strength index 100·ΣG/(ΣG+ΣL) over a 14-day frame of daily close
    moves — the momentum oscillator the candle family (_daily_ohlc)
    was missing; unlike Wilder's EMA form this one has NO recursive
    state, so it is window-expressible and integer-EXACT.

    Exactness: gains/losses are nonneg e4 integers off the shared
    close tape; the frame sums are exact bigints and the RSI is ONE
    integer division (100e6·sg // (sg+sl) — both operands nonnegative
    so DuckDB's floor-div and Spark's truncating DIV agree); partial
    frames (n14 < 14) and flat frames (sg+sl = 0) emit NULL — no
    partial-window ambiguity.

    Scale: one keyed lag + one keyed 14-row frame over the
    calendar-bounded |types|×|days| tape (the candle rollup is the
    only pass over raw events)."""
    moves = (
        _daily_close_delta(spark, sf_dir)
        .filter(F.col("delta").isNotNull())
        .select(
            "event_type",
            "d",
            F.greatest(F.col("delta"), F.lit(0)).cast("bigint").alias(
                "gain"
            ),
            F.greatest(-F.col("delta"), F.lit(0)).cast("bigint").alias(
                "loss"
            ),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-13, 0)
    )
    frames = moves.select(
        "event_type",
        "d",
        F.count("*").over(w).cast("bigint").alias("n14"),
        F.sum("gain").over(w).cast("bigint").alias("sg"),
        F.sum("loss").over(w).cast("bigint").alias("sl"),
    )
    return frames.select(
        "event_type",
        "d",
        "n14",
        "sg",
        "sl",
        F.when(
            (F.col("n14") == 14) & (F.col("sg") + F.col("sl") > 0),
            F.expr("(100000000 * sg) DIV (sg + sl)"),
        ).alias("rsi_e6"),
    )


@query(
    "ts_sortino_ratio",
    f"""
    WITH deltas AS ({_DAILY_DELTA_SQL}
    ), cells AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(delta) AS BIGINT) AS s_pnl,
               CAST(SUM(LEAST(delta, 0) * LEAST(delta, 0)) AS BIGINT)
                   AS sdd
        FROM deltas WHERE delta IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_days, s_pnl, sdd,
           CAST(FLOOR(CAST(s_pnl AS DOUBLE) / n_days) AS BIGINT)
               AS mean_pnl_e4,
           CASE WHEN sdd > 0 THEN
               CAST(FLOOR(SQRT(CAST(sdd AS DOUBLE) / n_days)) AS BIGINT)
           END AS downside_dev_e4,
           CASE WHEN sdd > 0 THEN
               CAST(FLOOR(CAST(s_pnl AS DOUBLE) / n_days
                          / SQRT(CAST(sdd AS DOUBLE) / n_days)
                          * 1000000) AS BIGINT)
           END AS sortino_e6
    FROM cells ORDER BY event_type
    """,
)
def ts_sortino_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTINO ratio per series (round 12 cont.): mean daily P&L over
    DOWNSIDE deviation √(Σ min(Δ,0)²/n) — the risk-adjusted return
    that only charges losses, read against the symmetric-vol candle
    family (a series with identical GK vol but positive skew scores
    higher here); completes the drawdown/ulcer/vol risk block with
    the one ratio that uses the SIGN of the moves.

    Exactness: day deltas are exact e4 integers off the shared close
    tape; n/Σ/Σmin² are exact bigint cells (|Δ|² ≤ ~2.4e13 × ~29 days
    — far inside int64); mean floors ONE double division (s_pnl can
    be negative — FLOOR(double), not DIV, per the GK discipline);
    dev and ratio are one double chain each, written identically and
    gated on sdd > 0.

    Scale: keyed lag window + a |types|-row group-all — the candle
    rollup is the only raw-events pass."""
    deltas = _daily_close_delta(spark, sf_dir).filter(
        F.col("delta").isNotNull()
    )
    neg = F.least(F.col("delta"), F.lit(0))
    cells = deltas.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("delta").cast("bigint").alias("s_pnl"),
        F.sum(neg * neg).cast("bigint").alias("sdd"),
    )
    mean = F.col("s_pnl").cast("double") / F.col("n_days")
    dev = F.sqrt(F.col("sdd").cast("double") / F.col("n_days"))
    return cells.select(
        "event_type",
        "n_days",
        "s_pnl",
        "sdd",
        F.floor(mean).cast("bigint").alias("mean_pnl_e4"),
        F.when(F.col("sdd") > 0, F.floor(dev).cast("bigint")).alias(
            "downside_dev_e4"
        ),
        F.when(
            F.col("sdd") > 0,
            F.floor(mean / dev * 1000000).cast("bigint"),
        ).alias("sortino_e6"),
    ).orderBy("event_type")


@query(
    "ts_vwap_anchored",
    """
    WITH daily AS (
        SELECT l_returnflag AS flag,
               CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                        * CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                   AS pv,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                   AS v
        FROM lineitem
        GROUP BY 1, 2
    ), cum AS (
        SELECT flag, day, pv, v,
               CAST(SUM(pv) OVER w AS BIGINT) AS cum_pv,
               CAST(SUM(v) OVER w AS BIGINT) AS cum_v
        FROM daily
        WINDOW w AS (PARTITION BY flag ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT flag, day, v,
           CAST((pv * 10000) // v AS BIGINT) AS day_vwap_e6,
           CAST(FLOOR(CAST(cum_pv AS DOUBLE) / cum_v * 10000) AS BIGINT)
               AS anchored_vwap_e6
    FROM cum
    """,
)
def ts_vwap_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + ANCHORED VWAP per return-flag series (round 12 cont.):
    the volume-weighted average price Σpq/Σq each day AND cumulative
    from the series start — the execution-quality benchmark every
    trading/cost dashboard anchors to, over the lineitem price×qty
    tape (the one fixture with a real price AND a real volume).

    Exactness: prices are exact cents, quantities exact units (TPC-H
    integral), so pv/v are exact bigint daily cells; the DAY vwap is
    one integer division of nonnegatives (pv·1e4 ≤ ~4e17 at sf10 —
    inside int64; `//`/DIV agree on nonnegatives); the ANCHORED vwap
    floors ONE double division (cum_pv can exceed 2^53 at sf10 — the
    int64→double rounding is IEEE-identical in both engines, so
    parity holds even where doubles round).

    Scale: one (flag, day) rollup over lineitem (map-side partial
    sums), then a keyed running window on the |flags|×|days|
    calendar-bounded tape — raw rows are touched exactly once."""
    li = load(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.to_date("l_shipdate").alias("day"),
            (
                F.floor(F.col("l_extendedprice") * 100).cast("bigint")
                * F.floor(F.col("l_quantity")).cast("bigint")
            ).alias("pq"),
            F.floor(F.col("l_quantity")).cast("bigint").alias("q"),
        )
        .groupBy("flag", "day")
        .agg(
            F.sum("pq").cast("bigint").alias("pv"),
            F.sum("q").cast("bigint").alias("v"),
        )
    )
    w = (
        Window.partitionBy("flag")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "flag",
        "day",
        "pv",
        "v",
        F.sum("pv").over(w).cast("bigint").alias("cum_pv"),
        F.sum("v").over(w).cast("bigint").alias("cum_v"),
    )
    return cum.select(
        "flag",
        "day",
        "v",
        F.expr("(pv * 10000) DIV v").alias("day_vwap_e6"),
        F.floor(
            F.col("cum_pv").cast("double") / F.col("cum_v") * 10000
        )
        .cast("bigint")
        .alias("anchored_vwap_e6"),
    )


# SPRT literals, computed once and shared verbatim by both engines:
# H0: p = 0.10 vs H1: p = 0.12 (one-sided uplift), alpha = beta = 0.05.
# L1 = ln(p1/p0), L0 = ln((1-p1)/(1-p0)); Wald boundaries
# lnA = ln((1-beta)/alpha), lnB = ln(beta/(1-alpha)). All floored e6
# INTEGER literals so the whole monitor is integer-exact.
_SPRT_L1_E6 = 182321
_SPRT_L0_E6 = -22473
_SPRT_LNA_E6 = 2944438
_SPRT_LNB_E6 = -2944439


@query(
    "events_sprt_monitor",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_trials,
               CAST(COUNT(*) FILTER (value >= 100.0) AS BIGINT)
                   AS n_success
        FROM events GROUP BY 1, 2
    ), llr AS (
        SELECT event_type, d, n_trials, n_success,
               CAST(n_success * {_SPRT_L1_E6}
                    + (n_trials - n_success) * {_SPRT_L0_E6} AS BIGINT)
                   AS llr_day_e6
        FROM daily
    ), cum AS (
        SELECT event_type, d, n_trials, n_success, llr_day_e6,
               CAST(SUM(llr_day_e6) OVER (PARTITION BY event_type
                                          ORDER BY d) AS BIGINT)
                   AS cum_llr_e6
        FROM llr
    )
    SELECT event_type, d, n_trials, n_success, llr_day_e6, cum_llr_e6,
           CASE WHEN cum_llr_e6 >= {_SPRT_LNA_E6} THEN 'accept_h1'
                WHEN cum_llr_e6 <= {_SPRT_LNB_E6} THEN 'accept_h0'
                ELSE 'continue' END AS state
    FROM cum
    """,
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD SPRT monitor per series (round 12 cont.): the sequential
    probability ratio test H0: p=0.10 vs H1: p=0.12 on the daily
    high-value-event rate, with the cumulative log-likelihood ratio
    walked against the (0.05, 0.05) Wald boundaries — the
    always-valid sequential complement of events_power_sample_size's
    FIXED-horizon design (SPRT needs ~half the samples on average)
    and the decision layer events_ab_srm_check's health gate feeds.

    Exactness: ALL-INTEGER — the per-day LLR is s·L1 + (n−s)·L0 with
    L1/L0/lnA/lnB floored-e6 Python literals shared verbatim by both
    engines (no runtime ln anywhere); the cumulative sum is an exact
    bigint keyed window; the verdict is integer comparisons.

    Scale: one (type, day) rollup over raw events (map-side
    combinable), then a keyed running window on the calendar-bounded
    |types|×|days| tape."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.count("*").cast("bigint").alias("n_trials"),
            F.count_if(F.col("value") >= 100.0)
            .cast("bigint")
            .alias("n_success"),
        )
    )
    llr = daily.withColumn(
        "llr_day_e6",
        (
            F.col("n_success") * _SPRT_L1_E6
            + (F.col("n_trials") - F.col("n_success")) * _SPRT_L0_E6
        ).cast("bigint"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = llr.withColumn(
        "cum_llr_e6", F.sum("llr_day_e6").over(w).cast("bigint")
    )
    return cum.select(
        "event_type",
        "d",
        "n_trials",
        "n_success",
        "llr_day_e6",
        "cum_llr_e6",
        F.when(F.col("cum_llr_e6") >= _SPRT_LNA_E6, F.lit("accept_h1"))
        .when(F.col("cum_llr_e6") <= _SPRT_LNB_E6, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("state"),
    )


@query(
    "ts_theil_u2_snaive",
    f"""
    WITH closes AS ({_DAILY_OHLC_SQL}
    ), lagged AS (
        SELECT event_type, d, c1,
               lag(c1, 1) OVER w AS c_1,
               lag(c1, 7) OVER w AS c_7
        FROM closes
        WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ), cells AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM((c1 - c_7) * (c1 - c_7)) AS BIGINT) AS sse_model,
               CAST(SUM((c1 - c_1) * (c1 - c_1)) AS BIGINT) AS sse_naive
        FROM lagged
        WHERE c_1 IS NOT NULL AND c_7 IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_days, sse_model, sse_naive,
           CASE WHEN sse_naive > 0 THEN
               CAST(FLOOR(SQRT(CAST(sse_model AS DOUBLE) / sse_naive)
                          * 1000000) AS BIGINT)
           END AS u2_e6
    FROM cells ORDER BY event_type
    """,
)
def ts_theil_u2_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL'S U2 for the seasonal-naive forecaster (round 12 cont.):
    √(Σ(c_d−c_{d−7})²/Σ(c_d−c_{d−1})²) — the seasonal-naive model's
    error relative to the plain random walk, the scale-free cousin of
    ts_mase (which normalizes by MAE; U2 by the naive RMSE, so it
    punishes large misses harder).  U2 < 1e6 means weekly seasonality
    genuinely helps; > 1e6 means lag-7 is WORSE than yesterday's
    value — a seasonality detector phrased as forecast skill.

    Exactness: both SSEs are exact bigint sums of squared e4-integer
    differences over the SAME valid-day set (both lags non-NULL); the
    ratio+sqrt is ONE gated double chain floored e6.

    Scale: one keyed two-lag window + a |types|-row rollup on the
    calendar-bounded daily tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = ohlc.select(
        "event_type",
        "c1",
        F.lag("c1", 1).over(w).alias("c_1"),
        F.lag("c1", 7).over(w).alias("c_7"),
    ).filter(F.col("c_1").isNotNull() & F.col("c_7").isNotNull())
    em = F.col("c1") - F.col("c_7")
    en = F.col("c1") - F.col("c_1")
    cells = lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(em * em).cast("bigint").alias("sse_model"),
        F.sum(en * en).cast("bigint").alias("sse_naive"),
    )
    return cells.select(
        "event_type",
        "n_days",
        "sse_model",
        "sse_naive",
        F.when(
            F.col("sse_naive") > 0,
            F.floor(
                F.sqrt(
                    F.col("sse_model").cast("double")
                    / F.col("sse_naive")
                )
                * 1000000
            ).cast("bigint"),
        ).alias("u2_e6"),
    ).orderBy("event_type")


@query(
    "ts_mean_reversion_halflife",
    f"""
    WITH closes AS ({_DAILY_OHLC_SQL}
    ), pairs AS (
        SELECT event_type, c1,
               lag(c1) OVER (PARTITION BY event_type ORDER BY d) AS cp
        FROM closes
    ), cells AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cp) AS BIGINT) AS sx,
               CAST(SUM(c1) AS BIGINT) AS sy,
               CAST(SUM(cp * cp) AS BIGINT) AS sxx,
               CAST(SUM(cp * c1) AS BIGINT) AS sxy
        FROM pairs WHERE cp IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(FLOOR((CAST(n AS DOUBLE) * sxy
                       - CAST(sx AS DOUBLE) * sy)
                      / (CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                      * 1000000) AS BIGINT) AS phi_e6,
           CASE WHEN (CAST(n AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx) > 0
                 AND (CAST(n AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx) < 1
           THEN
               CAST(FLOOR(-0.6931471805599453
                          / ln((CAST(n AS DOUBLE) * sxy
                                - CAST(sx AS DOUBLE) * sy)
                               / (CAST(n AS DOUBLE) * sxx
                                  - CAST(sx AS DOUBLE) * sx))
                          * 1000000) AS BIGINT)
           END AS halflife_days_e6
    FROM cells ORDER BY event_type
    """,
)
def ts_mean_reversion_halflife(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AR(1) MEAN-REVERSION HALF-LIFE per series (round 12 cont.):
    fit c_d = α + φ·c_{d−1} by OLS on the daily close tape and report
    halflife = −ln2/ln(φ) — "how many days until a shock decays
    halfway back", the number pairs-trading sizes positions with and
    the practical readout of what ts_dickey_fuller only tests:
    φ near 1 = long memory (half-life → ∞, gated NULL outside
    (0,1)); small φ = fast reversion.

    Exactness: the five OLS cells are exact bigints off the shared
    tape; φ is the standard cross-moment ratio in ONE double
    expression (the agg_regr_trend chain), reused VERBATIM inside
    the gate, the floor, and the log — a single formula appearing
    three times keeps libm parity trivial; ln 2 is a SHARED
    LITERAL (0.6931471805599453 — the GK 2ln2−1 discipline; runtime
    libm ln(2) is exactly the divergence that rule exists to avoid).

    Scale: keyed lag window + |types|-row rollup — the candle rollup
    is the only raw-events pass."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    pairs = ohlc.select(
        "event_type",
        "c1",
        F.lag("c1").over(w).alias("cp"),
    ).filter(F.col("cp").isNotNull())
    cells = pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cp").cast("bigint").alias("sx"),
        F.sum("c1").cast("bigint").alias("sy"),
        F.sum(F.col("cp") * F.col("cp")).cast("bigint").alias("sxx"),
        F.sum(F.col("cp") * F.col("c1")).cast("bigint").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    phi = (F.col("n").cast("double") * F.col("sxy") - d("sx") * F.col("sy")) / (
        F.col("n").cast("double") * F.col("sxx") - d("sx") * F.col("sx")
    )
    return cells.select(
        "event_type",
        "n",
        F.floor(phi * 1000000).cast("bigint").alias("phi_e6"),
        F.when(
            (phi > 0) & (phi < 1),
            F.floor(
                F.lit(-0.6931471805599453) / F.log(phi) * 1000000
            ).cast("bigint"),
        ).alias("halflife_days_e6"),
    ).orderBy("event_type")


@query(
    "ts_distance_correlation",
    f"""
    WITH closes AS ({_DAILY_OHLC_SQL}
    ), xa AS (
        SELECT d, c1 AS x FROM closes WHERE event_type = 'click'
    ), xb AS (
        SELECT d, c1 AS y FROM closes WHERE event_type = 'purchase'
    ), tape AS (
        SELECT xa.d, xa.x, xb.y FROM xa JOIN xb USING (d)
    ), pairs AS (
        SELECT i.d AS di, j.d AS dj,
               CAST(ABS(i.x - j.x) AS BIGINT) AS a,
               CAST(ABS(i.y - j.y) AS BIGINT) AS b
        FROM tape i, tape j
    ), rows_ AS (
        SELECT di, dj, a, b,
               CAST(SUM(a) OVER (PARTITION BY di) AS BIGINT) AS ra,
               CAST(SUM(b) OVER (PARTITION BY di) AS BIGINT) AS rb,
               CAST(SUM(a) OVER (PARTITION BY dj) AS BIGINT) AS ca,
               CAST(SUM(b) OVER (PARTITION BY dj) AS BIGINT) AS cb,
               CAST(SUM(a) OVER () AS BIGINT) AS ga,
               CAST(SUM(b) OVER () AS BIGINT) AS gb,
               CAST(COUNT(*) OVER (PARTITION BY di) AS BIGINT) AS n
        FROM pairs
    ), centered AS (
        SELECT n,
               CAST(n * n * a - n * ra - n * ca + ga AS BIGINT) AS ah,
               CAST(n * n * b - n * rb - n * cb + gb AS BIGINT) AS bh
        FROM rows_
    ), folded AS (
        SELECT MAX(n) AS n_days,
               CAST(SUM(CAST(ah AS HUGEINT) * bh) AS HUGEINT) AS sab,
               CAST(SUM(CAST(ah AS HUGEINT) * ah) AS HUGEINT) AS saa,
               CAST(SUM(CAST(bh AS HUGEINT) * bh) AS HUGEINT) AS sbb
        FROM centered
    )
    SELECT n_days,
           CASE WHEN saa > 0 AND sbb > 0 THEN
               CAST(FLOOR(CAST(GREATEST(sab, 0) AS DOUBLE)
                          / SQRT(CAST(saa AS DOUBLE)
                                 * CAST(sbb AS DOUBLE))
                          * 1000000) AS BIGINT)
           END AS dcor2_e6
    FROM folded
    """,
)
def ts_distance_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTANCE CORRELATION between the click and purchase daily
    close tapes (round 12 cont.): Székely's dCor² from the
    doubly-centered pairwise |Δ| matrices — zero IFF independent,
    so it catches the nonlinear/non-monotone coupling that Pearson
    (ts_rolling_corr), Spearman and even ts_ccf_lead_lag miss by
    construction; the final dependence instrument in the pair-of-
    tapes toolbox.

    Exactness: ALL-INTEGER until one double chain — distances are
    exact e4 ints; double-centering multiplies through by n²
    (Â·n² = n²a − n·row − n·col + grand, every term an exact bigint
    — no rational mean anywhere, the geo_moran_i discipline); the
    three quadratic sums run in HUGEINT/decimal(38,0) (ÂB̂n⁴ is
    ~1e20-scale); dCor² floors ONE gated double chain with
    GREATEST(sab,0) both sides (the population dCov² is ≥ 0; tiny
    negative is centering-roundoff only, and the guard keeps the
    floor identical).

    Scale: the pair matrix is |days|² of a CALENDAR-BOUNDED tape
    (≤ ~31² rows at every SF — the allowlisted bounded-cartesian
    shape); raw events are touched once by the candle rollup."""
    ohlc = _daily_ohlc(spark, sf_dir)
    xa = ohlc.filter(F.col("event_type") == "click").select(
        "d", F.col("c1").alias("x")
    )
    xb = ohlc.filter(F.col("event_type") == "purchase").select(
        F.col("d").alias("db"), F.col("c1").alias("y")
    )
    tape = xa.join(xb, xa.d == F.col("db")).select("d", "x", "y")
    i = tape.select(
        F.col("d").alias("di"), F.col("x").alias("xi"), F.col("y").alias("yi")
    )
    j = tape.select(
        F.col("d").alias("dj"), F.col("x").alias("xj"), F.col("y").alias("yj")
    )
    pairs = i.crossJoin(F.broadcast(j)).select(
        "di",
        "dj",
        F.abs(F.col("xi") - F.col("xj")).cast("bigint").alias("a"),
        F.abs(F.col("yi") - F.col("yj")).cast("bigint").alias("b"),
    )
    w_i = Window.partitionBy("di")
    w_j = Window.partitionBy("dj")
    w_all = Window.partitionBy()
    rows_ = pairs.select(
        "a",
        "b",
        F.sum("a").over(w_i).cast("bigint").alias("ra"),
        F.sum("b").over(w_i).cast("bigint").alias("rb"),
        F.sum("a").over(w_j).cast("bigint").alias("ca"),
        F.sum("b").over(w_j).cast("bigint").alias("cb"),
        F.sum("a").over(w_all).cast("bigint").alias("ga"),
        F.sum("b").over(w_all).cast("bigint").alias("gb"),
        F.count("*").over(w_i).cast("bigint").alias("n"),
    )
    ah = (
        F.col("n") * F.col("n") * F.col("a")
        - F.col("n") * F.col("ra")
        - F.col("n") * F.col("ca")
        + F.col("ga")
    ).cast("bigint")
    bh = (
        F.col("n") * F.col("n") * F.col("b")
        - F.col("n") * F.col("rb")
        - F.col("n") * F.col("cb")
        + F.col("gb")
    ).cast("bigint")
    d38 = "decimal(38,0)"
    centered = rows_.select(
        "n", ah.alias("ah"), bh.alias("bh")
    )
    folded = centered.agg(
        F.max("n").alias("n_days"),
        F.sum(F.col("ah").cast(d38) * F.col("bh")).alias("sab"),
        F.sum(F.col("ah").cast(d38) * F.col("ah")).alias("saa"),
        F.sum(F.col("bh").cast(d38) * F.col("bh")).alias("sbb"),
    )
    return folded.select(
        "n_days",
        F.when(
            (F.col("saa") > 0) & (F.col("sbb") > 0),
            F.floor(
                F.greatest(F.col("sab"), F.lit(0).cast(d38)).cast("double")
                / F.sqrt(
                    F.col("saa").cast("double") * F.col("sbb").cast("double")
                )
                * 1000000
            ).cast("bigint"),
        ).alias("dcor2_e6"),
    )


@query(
    "events_survival_weibull_fit",
    """
    WITH purchases AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE event_type = 'purchase'
    ), failures AS (
        SELECT CAST((epoch_us(ts) - epoch_us(prev_ts))
                    // 3600000000 + 1 AS BIGINT) AS t1
        FROM purchases WHERE prev_ts IS NOT NULL
    ), atoms AS (
        SELECT t1, CAST(COUNT(*) AS BIGINT) AS d_i
        FROM failures GROUP BY t1
    ), ranked AS (
        SELECT t1, d_i,
               CAST(SUM(d_i) OVER (ORDER BY t1) AS BIGINT) AS i,
               CAST(SUM(d_i) OVER () AS BIGINT) AS n
        FROM atoms
    ), pts AS (
        SELECT d_i,
               CAST(FLOOR(ln(CAST(t1 AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS x_e9,
               CAST(FLOOR(ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)
                                       / (n + 0.4)))
                          * 1000000000) AS BIGINT) AS y_e9
        FROM ranked
    ), cells AS (
        SELECT CAST(SUM(d_i) AS BIGINT) AS n,
               SUM(CAST(d_i AS HUGEINT) * x_e9) AS sx,
               SUM(CAST(d_i AS HUGEINT) * y_e9) AS sy,
               SUM(CAST(d_i AS HUGEINT) * x_e9 * x_e9) AS sxx,
               SUM(CAST(d_i AS HUGEINT) * x_e9 * y_e9) AS sxy
        FROM pts
    )
    SELECT n,
           CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * 1000000) AS BIGINT) AS shape_e6,
           CAST(FLOOR(EXP(-((CAST(sy AS DOUBLE)
                             - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE)
                                     * CAST(sx AS DOUBLE)))
                               * CAST(sx AS DOUBLE))
                            / CAST(n AS DOUBLE) / 1000000000)
                          / ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE)
                                  * CAST(sx AS DOUBLE))))
                      * 1000000) AS BIGINT)
               AS scale_hours_e6
    FROM cells
    """,
)
def events_survival_weibull_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIBULL FIT of inter-purchase gaps by median-rank regression
    (round 12 cont.): ln(−ln(1−F)) on ln(t) over per-user consecutive
    purchase gaps (hours) — the parametric member of the survival
    family on the one duration this fixture actually observes to
    completion (user LIFETIMES are all right-censored here: every
    user stays active to corpus end at every SF — measured before
    this fabric replaced the first draft): shape k < 1 means the
    next-purchase hazard falls as the gap grows (cooling users),
    k ≈ 1 is memoryless (the events_interarrival_hist Poisson read),
    k > 1 means rhythmic purchasing.  Bernard's median-rank
    F = (i−0.3)/(n+0.4) with ties taking the last rank.

    Exactness: gaps floor to whole hours +1 (ln args > 0, the candle
    v+1 discipline; exact epoch-microsecond diff DIV 3600e6 both engines — date_diff('second')/timestampdiff count DIFFERENTLY on fractional seconds, caught by the sf0.01 hash); each
    atom's x/y floors to an e9 INTEGER once; the five weighted OLS
    cells run in HUGEINT/decimal(38,0) (d·x·y is ~1e24-scale); shape
    and scale are each ONE double chain with the slope formula
    repeated VERBATIM inside the scale expression.

    Scale: one keyed lag window over purchases, atoms bounded by the
    calendar span in hours, a pre-reduced rank sweep over atoms."""
    ev = load(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lag("ts").over(wp).alias("prev_ts"),
    )
    failures = purchases.filter(F.col("prev_ts").isNotNull()).select(
        (
            F.expr(
                "(unix_micros(CAST(ts AS TIMESTAMP))"
                " - unix_micros(CAST(prev_ts AS TIMESTAMP)))"
                " DIV 3600000000"
            )
            + 1
        )
        .cast("bigint")
        .alias("t1")
    )
    atoms = failures.groupBy("t1").agg(
        F.count("*").cast("bigint").alias("d_i")
    )
    w = Window.orderBy("t1").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ranked = atoms.select(
        "t1",
        "d_i",
        F.sum("d_i").over(w).cast("bigint").alias("i"),
        F.sum("d_i").over(w_all).cast("bigint").alias("n"),
    )
    pts = ranked.select(
        "d_i",
        F.floor(F.log(F.col("t1").cast("double")) * 1000000000)
        .cast("bigint")
        .alias("x_e9"),
        F.floor(
            F.log(
                -F.log(
                    1.0
                    - (F.col("i").cast("double") - 0.3) / (F.col("n") + 0.4)
                )
            )
            * 1000000000
        )
        .cast("bigint")
        .alias("y_e9"),
    )
    d38 = "decimal(38,0)"
    cells = pts.agg(
        F.sum("d_i").cast("bigint").alias("n"),
        F.sum(F.col("d_i").cast(d38) * F.col("x_e9")).alias("sx"),
        F.sum(F.col("d_i").cast(d38) * F.col("y_e9")).alias("sy"),
        F.sum(
            F.col("d_i").cast(d38) * F.col("x_e9") * F.col("x_e9")
        ).alias("sxx"),
        F.sum(
            F.col("d_i").cast(d38) * F.col("x_e9") * F.col("y_e9")
        ).alias("sxy"),
    )
    dn = F.col("n").cast("double")
    dsx = F.col("sx").cast("double")
    dsy = F.col("sy").cast("double")
    dsxx = F.col("sxx").cast("double")
    dsxy = F.col("sxy").cast("double")
    slope = (dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx)
    return cells.select(
        "n",
        F.floor(slope * 1000000).cast("bigint").alias("shape_e6"),
        F.floor(
            F.exp(-((dsy - slope * dsx) / dn / 1000000000) / slope)
            * 1000000
        )
        .cast("bigint")
        .alias("scale_hours_e6"),
    )


@query(
    "ts_sma_crossover_census",
    f"""
    WITH closes AS ({_DAILY_OHLC_SQL}
    ), frames AS (
        SELECT event_type, d,
               CAST(SUM(c1) OVER w5 AS BIGINT) AS s5,
               CAST(COUNT(*) OVER w5 AS BIGINT) AS n5,
               CAST(SUM(c1) OVER w20 AS BIGINT) AS s20,
               CAST(COUNT(*) OVER w20 AS BIGINT) AS n20
        FROM closes
        WINDOW w5 AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w20 AS (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), state AS (
        SELECT event_type, d,
               CASE WHEN 4 * s5 > s20 THEN 1
                    WHEN 4 * s5 < s20 THEN -1 ELSE 0 END AS pos,
               lag(CASE WHEN 4 * s5 > s20 THEN 1
                        WHEN 4 * s5 < s20 THEN -1 ELSE 0 END)
                   OVER (PARTITION BY event_type ORDER BY d) AS prev
        FROM frames WHERE n20 = 20
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(*) FILTER (prev IS NOT NULL AND prev <= 0
                                 AND pos = 1) AS BIGINT)
               AS golden_crosses,
           CAST(COUNT(*) FILTER (prev IS NOT NULL AND prev >= 0
                                 AND pos = -1) AS BIGINT)
               AS death_crosses,
           CAST(MAX(CASE WHEN d = last_d THEN pos END)
                AS BIGINT) AS final_state
    FROM (SELECT *, MAX(d) OVER (PARTITION BY event_type) AS last_d
          FROM state)
    GROUP BY event_type ORDER BY event_type
    """,
)
def ts_sma_crossover_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA CROSSOVER CENSUS per series (round 12 cont.): golden
    crosses (fast 5-day SMA rising through the slow 20-day) and death
    crosses counted over the daily close tape, plus the final
    fast-vs-slow state — the signal layer on top of the moving-
    average family (win_moving_avg gives the lines; this counts the
    EVENTS a trend-following consumer actually trades, and a
    crossover count ≫ expected flags a whipsawing series where MA
    signals are noise).

    Exactness: ALL-INTEGER — the SMA comparison s5/5 vs s20/20
    cross-multiplies to 4·s5 vs s20 (no division at all), states are
    {−1,0,1} ints off exact frame sums, crossings are integer lag
    comparisons on full 20-day frames only.

    Scale: two same-key windows (Catalyst shares the exchange) + a
    keyed lag + a |types|-row rollup on the calendar-bounded tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w5 = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-4, 0)
    )
    w20 = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-19, 0)
    )
    frames = ohlc.select(
        "event_type",
        "d",
        F.sum("c1").over(w5).cast("bigint").alias("s5"),
        F.sum("c1").over(w20).cast("bigint").alias("s20"),
        F.count("*").over(w20).cast("bigint").alias("n20"),
    )
    pos = (
        F.when(4 * F.col("s5") > F.col("s20"), 1)
        .when(4 * F.col("s5") < F.col("s20"), -1)
        .otherwise(0)
    )
    wl = Window.partitionBy("event_type").orderBy("d")
    state = frames.filter(F.col("n20") == 20).select(
        "event_type",
        "d",
        pos.alias("pos"),
        F.lag(pos).over(wl).alias("prev"),
    )
    wmax = Window.partitionBy("event_type")
    st2 = state.withColumn("last_d", F.max("d").over(wmax))
    return (
        st2.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.count_if(
                F.col("prev").isNotNull()
                & (F.col("prev") <= 0)
                & (F.col("pos") == 1)
            )
            .cast("bigint")
            .alias("golden_crosses"),
            F.count_if(
                F.col("prev").isNotNull()
                & (F.col("prev") >= 0)
                & (F.col("pos") == -1)
            )
            .cast("bigint")
            .alias("death_crosses"),
            F.max(
                F.when(F.col("d") == F.col("last_d"), F.col("pos"))
            )
            .cast("bigint")
            .alias("final_state"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_underwater_spells",
    f"""
    WITH closes AS ({_DAILY_OHLC_SQL}
    ), marked AS (
        SELECT event_type, d, c1,
               CAST(MAX(c1) OVER (PARTITION BY event_type ORDER BY d)
                    AS BIGINT) AS peak
        FROM closes
    ), flagged AS (
        SELECT event_type, d,
               CASE WHEN c1 < peak THEN 1 ELSE 0 END AS uw,
               CASE WHEN c1 < peak
                     AND COALESCE(lag(CASE WHEN c1 < peak THEN 1
                                       ELSE 0 END)
                         OVER (PARTITION BY event_type ORDER BY d), 0)
                         = 0
                    THEN 1 ELSE 0 END AS spell_start
        FROM marked
    ), islands AS (
        SELECT event_type, d, uw,
               CAST(SUM(spell_start) OVER (PARTITION BY event_type
                                           ORDER BY d) AS BIGINT)
                   AS spell_id
        FROM flagged
    ), spells AS (
        SELECT event_type, spell_id,
               CAST(COUNT(*) AS BIGINT) AS len_days,
               CAST(MAX(d) AS DATE) AS spell_end
        FROM islands WHERE uw = 1
        GROUP BY 1, 2
    ), last_day AS (
        SELECT event_type, MAX(d) AS corpus_end,
               CAST(SUM(uw) AS BIGINT) AS uw_days,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM islands GROUP BY event_type
    )
    SELECT l.event_type, l.n_days, l.uw_days,
           CAST(COALESCE(COUNT(s.spell_id), 0) AS BIGINT) AS n_spells,
           CAST(COALESCE(MAX(s.len_days), 0) AS BIGINT)
               AS longest_spell_days,
           COALESCE(MAX(CASE WHEN s.spell_end = l.corpus_end
                             THEN TRUE END), FALSE)
               AS underwater_now
    FROM last_day l LEFT JOIN spells s USING (event_type)
    GROUP BY 1, 2, 3
    ORDER BY 1
    """,
)
def ts_underwater_spells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNDERWATER SPELL census per series (round 12 cont.): maximal
    runs of days strictly below the running peak — the DURATION
    decomposition of the drawdown family (ts_max_drawdown = worst
    depth, ts_ulcer_index = RMS blend; this answers 'how LONG do we
    stay down, how many distinct episodes, and are we down right
    now' — the recovery-time questions a depth number cannot).

    Exactness: ALL-INTEGER — the running peak is an integer window
    max, the underwater flag an integer comparison, spells are the
    win_gaps_islands start-flag cumsum, lengths/counts exact; the
    only non-count output is a boolean.

    Scale: three stacked keyed windows + two keyed rollups on the
    calendar-bounded tape — the gaps-islands program on the drawdown
    flag."""
    ohlc = _daily_ohlc(spark, sf_dir)
    wp = Window.partitionBy("event_type").orderBy("d")
    marked = ohlc.select(
        "event_type",
        "d",
        "c1",
        F.max("c1").over(wp).cast("bigint").alias("peak"),
    )
    uw = F.when(F.col("c1") < F.col("peak"), 1).otherwise(0)
    flagged = marked.select(
        "event_type",
        "d",
        uw.alias("uw"),
        F.when(
            (uw == 1)
            & (F.coalesce(F.lag(uw).over(wp), F.lit(0)) == 0),
            1,
        )
        .otherwise(0)
        .alias("spell_start"),
    )
    islands = flagged.select(
        "event_type",
        "d",
        "uw",
        F.sum("spell_start").over(wp).cast("bigint").alias("spell_id"),
    )
    spells = (
        islands.filter(F.col("uw") == 1)
        .groupBy("event_type", "spell_id")
        .agg(
            F.count("*").cast("bigint").alias("len_days"),
            F.max("d").alias("spell_end"),
        )
    )
    last_day = islands.groupBy("event_type").agg(
        F.max("d").alias("corpus_end"),
        F.sum("uw").cast("bigint").alias("uw_days"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    j = last_day.join(F.broadcast(spells), "event_type", "left")
    return (
        j.groupBy("event_type", "n_days", "uw_days")
        .agg(
            F.coalesce(F.count("spell_id"), F.lit(0))
            .cast("bigint")
            .alias("n_spells"),
            F.coalesce(F.max("len_days"), F.lit(0))
            .cast("bigint")
            .alias("longest_spell_days"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("spell_end") == F.col("corpus_end"),
                        F.lit(True),
                    )
                ),
                F.lit(False),
            ).alias("underwater_now"),
        )
        .orderBy("event_type")
    )


@query(
    "events_mantel_haenszel_or",
    """
    WITH base AS (
        SELECT CAST(CAST('0x' || substr(md5('arm:'
                        || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT)
                    % 2 AS BIGINT) AS arm,
               CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS y,
               CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT)
                   AS stratum
        FROM events
    ), cells AS (
        SELECT stratum,
               CAST(COUNT(*) FILTER (arm = 1 AND y = 1) AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (arm = 1 AND y = 0) AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (arm = 0 AND y = 1) AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (arm = 0 AND y = 0) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY stratum
    ), terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM((a * 1000000 * d) // n) AS BIGINT) AS num_e6,
               CAST(SUM((b * 1000000 * c) // n) AS BIGINT) AS den_e6,
               CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(d) AS BIGINT) AS sd
        FROM cells
    )
    SELECT n_strata, sa, sb, sc, sd,
           CASE WHEN sb * sc > 0 THEN
               CAST((sa * 1000000 * sd) // (sb * sc) AS BIGINT)
           END AS crude_or_e6,
           CASE WHEN den_e6 > 0 THEN
               CAST((num_e6 * 1000000) // den_e6 AS BIGINT)
           END AS mh_or_e6,
           (CASE WHEN sb * sc > 0 AND den_e6 > 0 THEN
               ((sa * 1000000 * sd) // (sb * sc) > 1000000)
               <> ((num_e6 * 1000000) // den_e6 > 1000000)
           ELSE FALSE END) AS reversal
    FROM terms
    """,
)
def events_mantel_haenszel_or(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MANTEL-HAENSZEL POOLED ODDS RATIO vs the crude (round 12
    cont.): the md5-arm × high-value-outcome association pooled
    ACROSS dayparts by the MH estimator Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ),
    compared against the collapsed crude OR — the Simpson's-paradox
    instrument: when stratum sizes correlate with both arm share and
    outcome rate, crude and MH DISAGREE (reversal = TRUE), and the
    stratified family (events_stratified_effect, agg_smr_indirect)
    exists precisely because the crude number lies.  The md5 arm is
    independent of everything, so both ORs ≈ 1 and reversal must be
    FALSE — a structural null referee'd in tests.

    Exactness: ALL-INTEGER — 2×2×strata cells exact; each MH term
    quantizes ONCE as (a·1e6·d)//n (nonneg → `//`/DIV agree; a·1e6·d
    ≤ ~4e17 at sf10, inside int64); crude/MH ORs are exact integer
    divisions; the reversal flag compares integer quotients to 1e6.

    Scale: one events pass to ≤4 stratum cells (map-side), 1-row
    finish — no window, no join."""
    ev = load(spark, sf_dir, "events")
    arm = md5_int(F.lit("arm:"), F.col("user_id").cast("string"), digits=4) % 2
    base = ev.select(
        arm.alias("arm"),
        F.when(F.col("value") >= 100.0, 1).otherwise(0).alias("y"),
        F.floor(F.hour("ts") / 6).cast("bigint").alias("stratum"),
    )
    cells = base.groupBy("stratum").agg(
        F.count_if((F.col("arm") == 1) & (F.col("y") == 1))
        .cast("bigint")
        .alias("a"),
        F.count_if((F.col("arm") == 1) & (F.col("y") == 0))
        .cast("bigint")
        .alias("b"),
        F.count_if((F.col("arm") == 0) & (F.col("y") == 1))
        .cast("bigint")
        .alias("c"),
        F.count_if((F.col("arm") == 0) & (F.col("y") == 0))
        .cast("bigint")
        .alias("d"),
        F.count("*").cast("bigint").alias("n"),
    )
    terms = cells.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum(F.expr("(a * 1000000 * d) DIV n"))
        .cast("bigint")
        .alias("num_e6"),
        F.sum(F.expr("(b * 1000000 * c) DIV n"))
        .cast("bigint")
        .alias("den_e6"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum("d").cast("bigint").alias("sd"),
    )
    crude = F.expr("(sa * 1000000 * sd) DIV (sb * sc)")
    mh = F.expr("(num_e6 * 1000000) DIV den_e6")
    return terms.select(
        "n_strata",
        "sa",
        "sb",
        "sc",
        "sd",
        F.when(F.col("sb") * F.col("sc") > 0, crude).alias(
            "crude_or_e6"
        ),
        F.when(F.col("den_e6") > 0, mh).alias("mh_or_e6"),
        F.when(
            (F.col("sb") * F.col("sc") > 0) & (F.col("den_e6") > 0),
            (crude > 1000000) != (mh > 1000000),
        )
        .otherwise(F.lit(False))
        .alias("reversal"),
    )


@query(
    "events_cmh_test",
    """
    WITH base AS (
        SELECT CAST(CAST('0x' || substr(md5('arm:'
                        || CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT)
                    % 2 AS BIGINT) AS arm,
               CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS y,
               CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT)
                   AS stratum
        FROM events
    ), cells AS (
        SELECT stratum,
               CAST(COUNT(*) FILTER (arm = 1 AND y = 1) AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (y = 1) AS BIGINT) AS m1,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY stratum
    ), terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(a) AS BIGINT) AS sum_a,
               CAST(SUM(CAST(FLOOR(CAST(n1 AS DOUBLE) * m1 / n
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS sum_e_e6,
               CAST(SUM(CAST(FLOOR(CAST(n1 AS DOUBLE) * (n - n1) * m1
                                   * (n - m1)
                                   / (CAST(n AS DOUBLE) * n * (n - 1))
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS sum_v_e6
        FROM cells WHERE n > 1
    )
    SELECT n_strata, sum_a, sum_e_e6, sum_v_e6,
           CASE WHEN sum_v_e6 > 0 THEN
               CAST(FLOOR((ABS(sum_a - CAST(sum_e_e6 AS DOUBLE)
                               / 1000000) - 0.5)
                          * (ABS(sum_a - CAST(sum_e_e6 AS DOUBLE)
                                 / 1000000) - 0.5)
                          / (CAST(sum_v_e6 AS DOUBLE) / 1000000)
                          * 1000000) AS BIGINT)
           END AS cmh_chi2_e6
    FROM terms
    """,
)
def events_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-MANTEL-HAENSZEL χ²(1) (round 12 cont.): the
    significance companion of events_mantel_haenszel_or — tests
    H0: no arm↔outcome association in ANY daypart stratum, via
    (|Σaᵢ − ΣEᵢ| − ½)²/ΣVᵢ with the exact hypergeometric
    Eᵢ = n1ᵢm1ᵢ/nᵢ and Vᵢ = n1ᵢn0ᵢm1ᵢm0ᵢ/(nᵢ²(nᵢ−1)) — the
    stratified 2×2 chain completed: MH estimates the pooled OR, CMH
    tests it, agg_chi_square is the unstratified degenerate.  The
    md5 arm keeps the statistic near its null (χ² small — referee'd).

    Exactness: a/n1/m1/n cells exact; each stratum's E and V floor
    ONCE e6 before order-free bigint sums (the continuity-corrected
    readout is one gated double chain).

    Scale: one events pass to ≤4 stratum cells, 1-row finish."""
    ev = load(spark, sf_dir, "events")
    arm = md5_int(F.lit("arm:"), F.col("user_id").cast("string"), digits=4) % 2
    base = ev.select(
        arm.alias("arm"),
        F.when(F.col("value") >= 100.0, 1).otherwise(0).alias("y"),
        F.floor(F.hour("ts") / 6).cast("bigint").alias("stratum"),
    )
    cells = base.groupBy("stratum").agg(
        F.count_if((F.col("arm") == 1) & (F.col("y") == 1))
        .cast("bigint")
        .alias("a"),
        F.count_if(F.col("arm") == 1).cast("bigint").alias("n1"),
        F.count_if(F.col("y") == 1).cast("bigint").alias("m1"),
        F.count("*").cast("bigint").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    e_e6 = F.floor(d("n1") * F.col("m1") / F.col("n") * 1000000).cast(
        "bigint"
    )
    v_e6 = F.floor(
        d("n1")
        * (F.col("n") - F.col("n1"))
        * F.col("m1")
        * (F.col("n") - F.col("m1"))
        / (d("n") * F.col("n") * (F.col("n") - 1))
        * 1000000
    ).cast("bigint")
    terms = cells.filter(F.col("n") > 1).agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum(e_e6).cast("bigint").alias("sum_e_e6"),
        F.sum(v_e6).cast("bigint").alias("sum_v_e6"),
    )
    dev = F.abs(
        F.col("sum_a") - F.col("sum_e_e6").cast("double") / 1000000
    ) - 0.5
    return terms.select(
        "n_strata",
        "sum_a",
        "sum_e_e6",
        "sum_v_e6",
        F.when(
            F.col("sum_v_e6") > 0,
            F.floor(
                dev * dev / (F.col("sum_v_e6").cast("double") / 1000000)
                * 1000000
            ).cast("bigint"),
        ).alias("cmh_chi2_e6"),
    )


_BD_CELLS_SQL = """
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
                       % 2 AS BIGINT) = 1) AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (value >= 100.0) AS BIGINT) AS m1,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
"""


@query(
    "agg_breslow_day_homogeneity",
    f"""
    WITH cells AS ({_BD_CELLS_SQL}
    ), mh AS (
        SELECT CAST(SUM((a * 1000000 * (n - n1 - m1 + a)) // n)
                    AS BIGINT) AS num_e6,
               CAST(SUM(((n1 - a) * 1000000 * (m1 - a)) // n)
                    AS BIGINT) AS den_e6
        FROM cells
    ), solved AS (
        SELECT c.stratum, c.a, c.n1, c.m1, c.n,
               CAST(m.num_e6 AS DOUBLE) / m.den_e6 AS t,
               ((CAST(m.num_e6 AS DOUBLE) / m.den_e6 - 1.0)) AS tm1,
               (CAST(m.num_e6 AS DOUBLE) / m.den_e6
                   * (c.n1 + c.m1) + (c.n - c.n1 - c.m1)) AS bq
        FROM cells c, mh m WHERE m.den_e6 > 0
    ), roots AS (
        SELECT stratum, a, n1, m1, n, t,
               CASE WHEN ABS(tm1) < 1e-12 THEN
                   CAST(n1 AS DOUBLE) * m1 / n
               ELSE
                   (bq - SQRT(bq * bq
                              - 4.0 * tm1 * t * n1 * m1))
                   / (2.0 * tm1)
               END AS e
        FROM solved
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(CAST(FLOOR(
               (a - e) * (a - e)
               * (1.0 / e + 1.0 / (n1 - e) + 1.0 / (m1 - e)
                  + 1.0 / (n - n1 - m1 + e))
               * 1000000) AS BIGINT)) AS BIGINT) AS bd_chi2_e6
    FROM roots
    WHERE e > 0 AND n1 - e > 0 AND m1 - e > 0 AND n - n1 - m1 + e > 0
    """,
)
def agg_breslow_day_homogeneity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BRESLOW-DAY HOMOGENEITY of odds ratios (round 12 cont.): do
    the per-daypart arm↔outcome odds ratios share ONE common value?
    — the missing leg of the stratified-2×2 chain: MH assumes
    homogeneity to pool, CMH tests the pooled effect, Breslow-Day
    tests the ASSUMPTION (χ² on strata−1 dof): per stratum the
    expected cell E solves the quadratic
    (t−1)E² − [t(n1+m1) + (n−n1−m1)]E + t·n1·m1 = 0 at the MH
    common OR t, and BD = Σ(a−E)²·(1/E + 1/(n1−E) + 1/(m1−E) +
    1/(n0−m1+E)).  The md5 arm keeps every stratum OR at 1, so BD
    must be unremarkable — the structural null referee.

    Exactness: cells exact; the MH t quantizes ONCE as the exact
    integer pair num_e6/den_e6 (the events_mantel_haenszel_or bands)
    and then t enters a per-stratum double chain: quadratic root via
    the minus branch (the admissible root below min(n1,m1)), the
    t→1 degenerate handled by an explicit |t−1| gate with the exact
    hypergeometric mean, each stratum term floored e6 BEFORE the
    order-free sum, inadmissible roots dropped by the same gate both
    sides.

    Scale: one events pass to ≤4 stratum cells, a 1-row MH anchor,
    1-row finish."""
    ev = load(spark, sf_dir, "events")
    arm = md5_int(F.lit("arm:"), F.col("user_id").cast("string"), digits=4) % 2
    base = ev.select(
        arm.alias("arm"),
        F.when(F.col("value") >= 100.0, 1).otherwise(0).alias("y"),
        F.floor(F.hour("ts") / 6).cast("bigint").alias("stratum"),
    )
    cells = base.groupBy("stratum").agg(
        F.count_if((F.col("arm") == 1) & (F.col("y") == 1))
        .cast("bigint")
        .alias("a"),
        F.count_if(F.col("arm") == 1).cast("bigint").alias("n1"),
        F.count_if(F.col("y") == 1).cast("bigint").alias("m1"),
        F.count("*").cast("bigint").alias("n"),
    )
    mh = cells.agg(
        F.sum(F.expr("(a * 1000000 * (n - n1 - m1 + a)) DIV n"))
        .cast("bigint")
        .alias("num_e6"),
        F.sum(F.expr("((n1 - a) * 1000000 * (m1 - a)) DIV n"))
        .cast("bigint")
        .alias("den_e6"),
    )
    j = cells.crossJoin(F.broadcast(mh)).filter(F.col("den_e6") > 0)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    t = d("num_e6") / F.col("den_e6")
    tm1 = t - 1.0
    bq = t * (F.col("n1") + F.col("m1")) + (
        F.col("n") - F.col("n1") - F.col("m1")
    )
    e = F.when(
        F.abs(tm1) < 1e-12, d("n1") * F.col("m1") / F.col("n")
    ).otherwise(
        (bq - F.sqrt(bq * bq - 4.0 * tm1 * t * F.col("n1") * F.col("m1")))
        / (2.0 * tm1)
    )
    roots = j.select(
        "a", "n1", "m1", "n", e.alias("e")
    ).filter(
        (F.col("e") > 0)
        & (F.col("n1") - F.col("e") > 0)
        & (F.col("m1") - F.col("e") > 0)
        & (F.col("n") - F.col("n1") - F.col("m1") + F.col("e") > 0)
    )
    term = F.floor(
        (F.col("a") - F.col("e"))
        * (F.col("a") - F.col("e"))
        * (
            1.0 / F.col("e")
            + 1.0 / (F.col("n1") - F.col("e"))
            + 1.0 / (F.col("m1") - F.col("e"))
            + 1.0
            / (F.col("n") - F.col("n1") - F.col("m1") + F.col("e"))
        )
        * 1000000
    ).cast("bigint")
    return roots.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum(term).cast("bigint").alias("bd_chi2_e6"),
    )


@query(
    "ts_pettitt_test",
    f"""
    WITH closes AS ({_DAILY_OHLC_SQL}
    ), ranked AS (
        SELECT event_type, d,
               CAST(2 * rank() OVER (PARTITION BY event_type
                                     ORDER BY c1)
                    + count(*) OVER (PARTITION BY event_type, c1)
                    - 1 AS BIGINT) AS r2,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n
        FROM closes
    ), walks AS (
        SELECT event_type, d, n,
               CAST(SUM(r2) OVER (PARTITION BY event_type ORDER BY d)
                    - row_number() OVER (PARTITION BY event_type
                                         ORDER BY d) * (n + 1)
                    AS BIGINT) AS u_t,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY d) AS BIGINT) AS t
        FROM ranked
    ), best AS (
        SELECT event_type, d AS change_d, n, u_t,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ABS(u_t) DESC, d ASC)
                   AS pick
        FROM walks WHERE t < n
    )
    SELECT event_type, change_d, n,
           CAST(ABS(u_t) AS BIGINT) AS k_stat,
           CAST(FLOOR(2.0 * EXP(-6.0 * CAST(ABS(u_t) AS DOUBLE)
                                * ABS(u_t)
                                / (CAST(n AS DOUBLE) * n * n
                                   + CAST(n AS DOUBLE) * n))
                      * 1000000) AS BIGINT) AS p_approx_e6
    FROM best WHERE pick = 1
    ORDER BY event_type
    """,
)
def ts_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PETTITT CHANGEPOINT TEST per series (round 12 cont.): the
    rank-based single-changepoint detector — K = max_t |U_t| with
    U_t = Σ_{i≤t, j>t} sgn(xᵢ−xⱼ) — completing the changepoint
    family's missing member (CUSUM tracks means, binseg2 fits
    variance, Page-Hinkley streams; Pettitt is DISTRIBUTION-FREE, so
    a heavy-tailed fee tape can't fake a change through outliers).
    Ties handled exactly via doubled average ranks (2r̄ᵢ − (n+1) =
    #less − #greater identically, so U_t stays an exact INTEGER
    cumulative sum); the changepoint day is the earliest argmax.

    Exactness: ALL-INTEGER through the argmax (doubled ranks,
    cumulative walk, |U| comparisons with (|U| desc, d asc)
    tie-break); only the Pettitt tail approximation
    2exp(−6K²/(n³+n²)) runs one double chain floored e6.

    Scale: three same-key windows on the calendar-bounded tape +
    a keyed argmax — the ts_changepoint_cusum shape, rank-based."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w_rank = Window.partitionBy("event_type").orderBy("c1")
    w_tie = Window.partitionBy("event_type", "c1")
    w_all = Window.partitionBy("event_type")
    ranked = ohlc.select(
        "event_type",
        "d",
        (
            2 * F.rank().over(w_rank)
            + F.count("*").over(w_tie)
            - 1
        )
        .cast("bigint")
        .alias("r2"),
        F.count("*").over(w_all).cast("bigint").alias("n"),
    )
    w_ord = Window.partitionBy("event_type").orderBy("d")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    walks = ranked.select(
        "event_type",
        "d",
        "n",
        (
            F.sum("r2").over(w_cum)
            - F.row_number().over(w_ord) * (F.col("n") + 1)
        )
        .cast("bigint")
        .alias("u_t"),
        F.row_number().over(w_ord).cast("bigint").alias("t"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("u_t")).desc(), F.col("d").asc()
    )
    best = (
        walks.filter(F.col("t") < F.col("n"))
        .select(
            "event_type",
            F.col("d").alias("change_d"),
            "n",
            "u_t",
            F.row_number().over(w_pick).alias("pick"),
        )
        .filter(F.col("pick") == 1)
    )
    k = F.abs(F.col("u_t")).cast("double")
    nn = F.col("n").cast("double")
    return best.select(
        "event_type",
        "change_d",
        "n",
        F.abs(F.col("u_t")).cast("bigint").alias("k_stat"),
        F.floor(
            2.0 * F.exp(-6.0 * k * k / (nn * nn * nn + nn * nn)) * 1000000
        )
        .cast("bigint")
        .alias("p_approx_e6"),
    ).orderBy("event_type")


# the 4 attribution channels, bit positions fixed alphabetically;
# Shapley coalition weights w(|S|) = |S|!(3-|S|)! for 4 players (x24
# scale so everything stays integer: 0!3!=6, 1!2!=2, 2!1!=2, 3!0!=6)
_SHAPLEY_CHANNELS = ("click", "error", "signup", "view")
_SHAPLEY_W = {0: 6, 1: 2, 2: 2, 3: 6}


def _shapley_lattice_rows() -> list[tuple[int, int, int]]:
    """(channel_bit, subset_mask_without_channel, weight) rows for
    the 4-player Shapley sum — 4 channels × 8 subsets = 32 rows,
    computed once in Python and shared as literals."""
    rows = []
    for i in range(4):
        for mask in range(16):
            if mask & (1 << i):
                continue
            rows.append((i, mask, _SHAPLEY_W[bin(mask).count("1")]))
    return rows


_SHAPLEY_LATTICE_SQL = ", ".join(
    f"({i}, {m}, {w})" for i, m, w in _shapley_lattice_rows()
)
_SUBSET_SQL = ", ".join(f"({m})" for m in range(16))


@query(
    "events_attribution_shapley",
    f"""
    WITH conv AS (
        SELECT user_id, MIN(ts) AS first_purchase
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ), journeys AS (
        SELECT e.user_id,
               CAST(SUM(DISTINCT CASE e.event_type
                    WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                    ELSE 0 END) AS BIGINT) AS mask
        FROM events e JOIN conv c ON c.user_id = e.user_id
        WHERE e.ts < c.first_purchase
          AND e.event_type IN ('click', 'error', 'signup', 'view')
        GROUP BY e.user_id
    ), exact_sets AS (
        SELECT mask, CAST(COUNT(*) AS BIGINT) AS conv_n
        FROM journeys GROUP BY mask
    ), subsets (t_mask) AS (VALUES {_SUBSET_SQL}
    ), v AS (
        SELECT s.t_mask,
               CAST(COALESCE(SUM(CASE WHEN (e.mask | s.t_mask)
                                           = s.t_mask
                                      THEN e.conv_n END), 0) AS BIGINT)
                   AS v_t
        FROM subsets s LEFT JOIN exact_sets e ON TRUE
        GROUP BY s.t_mask
    ), lattice (ch_bit, s_mask, w) AS (
        VALUES {_SHAPLEY_LATTICE_SQL}
    ), phi AS (
        SELECT l.ch_bit,
               CAST(SUM(l.w * (v1.v_t - v0.v_t)) AS BIGINT) AS phi_x24
        FROM lattice l
        JOIN v v0 ON v0.t_mask = l.s_mask
        JOIN v v1 ON v1.t_mask = l.s_mask
                     + CASE l.ch_bit WHEN 0 THEN 1 WHEN 1 THEN 2
                                     WHEN 2 THEN 4 ELSE 8 END
        GROUP BY l.ch_bit
    )
    SELECT CASE ch_bit WHEN 0 THEN 'click' WHEN 1 THEN 'error'
                       WHEN 2 THEN 'signup' ELSE 'view' END AS channel,
           phi_x24,
           CAST((phi_x24 * 1000000)
                // GREATEST(SUM(phi_x24) OVER (), 1) AS BIGINT)
               AS phi_share_e6
    FROM phi ORDER BY channel
    """,
)
def events_attribution_shapley(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHAPLEY-VALUE conversion attribution (round 12 cont.): each
    pre-purchase channel's game-theoretic credit over the EXACT
    4-channel coalition lattice — the principled member of the
    attribution family (events_attribution's positional rules answer
    'who touched'; Shapley answers 'who CAUSED, averaged over every
    arrival order'), with v(T) = conversions whose journey set ⊆ T
    (the Zhao-et-al. characteristic function) and the efficiency
    identity Σφ = v(all) − v(∅) referee'd in tests.

    Exactness: ALL-INTEGER — journeys reduce to 4-bit masks, v(T) is
    an exact subset-sum over 16 lattice rows, the 32 (channel,
    coalition, weight) rows are Python-computed literals shared
    verbatim, and ×24 scaling turns the factorial weights into
    integers; shares are one integer division.

    Scale: one events pass to per-user masks (keyed rollup on the
    converter join), a ≤16-row exact-set table — the lattice math
    never touches row-scale data."""
    ev = load(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
        .otherwise(0)
    )
    journeys = (
        ev.join(conv, "user_id")
        .filter(
            (F.col("ts") < F.col("first_purchase"))
            & F.col("event_type").isin(
                "click", "error", "signup", "view"
            )
        )
        .select("user_id", bit.alias("b"))
        .distinct()
        .groupBy("user_id")
        .agg(F.sum("b").cast("bigint").alias("mask"))
    )
    exact_sets = journeys.groupBy("mask").agg(
        F.count("*").cast("bigint").alias("conv_n")
    )
    subsets = spark.createDataFrame(
        [(m,) for m in range(16)], "t_mask: bigint"
    )
    v = (
        subsets.join(
            F.broadcast(exact_sets),
            F.expr("(mask | t_mask) = t_mask"),
            "left",
        )
        .groupBy("t_mask")
        .agg(
            F.coalesce(F.sum("conv_n"), F.lit(0))
            .cast("bigint")
            .alias("v_t")
        )
    )
    lattice = spark.createDataFrame(
        _shapley_lattice_rows(), "ch_bit: bigint, s_mask: bigint, w: bigint"
    )
    v0 = v.select(F.col("t_mask").alias("m0"), F.col("v_t").alias("v0"))
    v1 = v.select(F.col("t_mask").alias("m1"), F.col("v_t").alias("v1"))
    add_bit = F.expr(
        "CASE ch_bit WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4"
        " ELSE 8 END"
    )
    phi = (
        lattice.join(F.broadcast(v0), F.col("s_mask") == F.col("m0"))
        .join(
            F.broadcast(v1),
            (F.col("s_mask") + add_bit) == F.col("m1"),
        )
        .groupBy("ch_bit")
        .agg(
            F.sum(F.col("w") * (F.col("v1") - F.col("v0")))
            .cast("bigint")
            .alias("phi_x24")
        )
    )
    w_all = Window.partitionBy()
    named = phi.select(
        F.expr(
            "CASE ch_bit WHEN 0 THEN 'click' WHEN 1 THEN 'error'"
            " WHEN 2 THEN 'signup' ELSE 'view' END"
        ).alias("channel"),
        "phi_x24",
        F.sum("phi_x24").over(w_all).alias("tot"),
    )
    return named.select(
        "channel",
        "phi_x24",
        F.expr(
            "(phi_x24 * 1000000) DIV GREATEST(tot, 1L)"
        ).alias("phi_share_e6"),
    ).orderBy("channel")


# --- Round-13 candle/TA completion -----------------------------------
# The daily-candle tape (_daily_ohlc) plus per-day VOLUME (trade
# count): OBV / Chaikin money flow weight price moves by participation,
# which the OHLC-only tape cannot express. Separate helper so the
# pinned OHLC-only plans (garman_klass, parkinson, …) are untouched.
_DAILY_OHLCV_SQL = _DAILY_OHLC_SQL.replace(
    "CAST(MAX(CASE WHEN rn_d = 1 THEN v1 END) AS BIGINT) AS c1",
    "CAST(MAX(CASE WHEN rn_d = 1 THEN v1 END) AS BIGINT) AS c1,\n"
    "               CAST(COUNT(*) AS BIGINT) AS vol",
)


def _daily_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, h1, l1, o1, c1, vol) — _daily_ohlc plus the
    day's trade count as volume. Same two coalesced keyed windows +
    one rollup; vol is an exact bigint."""
    ev = load(spark, sf_dir, "events")
    v1 = (F.floor(F.col("value") * 10000).cast("bigint") + 1).alias("v1")
    wa = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    base = ev.select(
        "event_type",
        F.to_date("ts").alias("d"),
        v1,
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return base.groupBy("event_type", "d").agg(
        F.max("v1").cast("bigint").alias("h1"),
        F.min("v1").cast("bigint").alias("l1"),
        F.max(F.when(F.col("rn_a") == 1, F.col("v1")))
        .cast("bigint")
        .alias("o1"),
        F.max(F.when(F.col("rn_d") == 1, F.col("v1")))
        .cast("bigint")
        .alias("c1"),
        F.count("*").cast("bigint").alias("vol"),
    )


_DONCHIAN_W = 10


@query(
    "ts_donchian_channels",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), ch AS (
        SELECT event_type, d, c1,
               MAX(h1) OVER w AS upper_e4,
               MIN(l1) OVER w AS lower_e4,
               MAX(h1) OVER (PARTITION BY event_type ORDER BY d
                             ROWS BETWEEN {_DONCHIAN_W} PRECEDING
                                      AND 1 PRECEDING) AS prev_upper,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlc
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN {_DONCHIAN_W - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT event_type, d,
           CAST(upper_e4 AS BIGINT) AS upper_e4,
           CAST(lower_e4 AS BIGINT) AS lower_e4,
           CAST((upper_e4 + lower_e4) // 2 AS BIGINT) AS mid_e4,
           CASE WHEN c1 > prev_upper THEN 1 ELSE 0 END AS breakout_up
    FROM ch WHERE rn >= {_DONCHIAN_W}
    ORDER BY event_type, d
    """,
)
def ts_donchian_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channels over the daily candle tape (round 13, candle
    family): trailing-10-day high/low band, midline, and an upward
    breakout flag (close above the PREVIOUS day's upper band — the
    classic turtle entry). All integer exact: the band edges are the
    shifted-e4 candle ints themselves, the midline is a floor-halved
    sum of positives (// and DIV agree above zero), the flag an
    integer comparison.

    Scale: one keyed daily rollup then three same-spec keyed windows
    Catalyst coalesces into one exchange over the |types|×|days| tape
    — the pre-reduced-tape discipline of the whole candle family."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(_DONCHIAN_W - 1), 0)
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-_DONCHIAN_W, -1)
    )
    w_rn = Window.partitionBy("event_type").orderBy("d")
    ch = ohlc.select(
        "event_type",
        "d",
        "c1",
        F.max("h1").over(w).alias("upper_e4"),
        F.min("l1").over(w).alias("lower_e4"),
        F.max("h1").over(w_prev).alias("prev_upper"),
        F.row_number().over(w_rn).alias("rn"),
    )
    return (
        ch.filter(F.col("rn") >= _DONCHIAN_W)
        .select(
            "event_type",
            "d",
            F.col("upper_e4").cast("bigint").alias("upper_e4"),
            F.col("lower_e4").cast("bigint").alias("lower_e4"),
            ((F.col("upper_e4") + F.col("lower_e4")) / 2)
            .cast("bigint")
            .alias("mid_e4"),
            F.when(F.col("c1") > F.col("prev_upper"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("breakout_up"),
        )
        .orderBy("event_type", "d")
    )


_AROON_W = 10  # lookback periods (current + 9 prior candles)


@query(
    "ts_aroon",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), rk AS (
        SELECT event_type, d, h1, l1,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlc
    ), pairs AS (
        SELECT c.event_type, c.d, c.rn,
               p.rn AS p_rn, p.h1 AS p_h1, p.l1 AS p_l1
        FROM rk c JOIN rk p
          ON p.event_type = c.event_type
         AND p.rn BETWEEN c.rn - {_AROON_W - 1} AND c.rn
        WHERE c.rn >= {_AROON_W}
    ), picks AS (
        SELECT event_type, d, rn, p_rn,
               row_number() OVER (PARTITION BY event_type, rn
                                  ORDER BY p_h1 DESC, p_rn DESC) AS rk_up,
               row_number() OVER (PARTITION BY event_type, rn
                                  ORDER BY p_l1 ASC, p_rn DESC) AS rk_dn
        FROM pairs
    ), agg AS (
        SELECT event_type, d, rn,
               MAX(CASE WHEN rk_up = 1 THEN rn - p_rn END) AS ds_up,
               MAX(CASE WHEN rk_dn = 1 THEN rn - p_rn END) AS ds_dn
        FROM picks GROUP BY 1, 2, 3
    )
    SELECT event_type, d,
           CAST(({_AROON_W} - ds_up) * {100 // _AROON_W} AS BIGINT)
               AS aroon_up_pct,
           CAST(({_AROON_W} - ds_dn) * {100 // _AROON_W} AS BIGINT)
               AS aroon_dn_pct,
           CAST((ds_dn - ds_up) * {100 // _AROON_W} AS BIGINT)
               AS aroon_osc
    FROM agg ORDER BY event_type, d
    """,
)
def ts_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon indicator over the daily candle tape (round 13): per day,
    periods since the trailing-10-day highest high (aroon-up =
    100·(W−ds)/W) and lowest low (aroon-down), plus the oscillator
    (up − down). Ties resolve to the MOST RECENT extreme (p_rn DESC),
    the convention that makes a fresh equal-high read as momentum.
    100/W divides exactly at W=10, so every output is an exact
    integer — no floats anywhere.

    Scale: the argmax-within-trailing-frame has no native window form,
    so it runs as a bounded band self-join ON THE PRE-REDUCED TAPE
    (|types|×|days| rows after the daily rollup — calendar-bounded,
    never corpus-sized) with fan-out exactly W per row, then one keyed
    rank. The corpus-scale work remains the single daily rollup."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w_rn = Window.partitionBy("event_type").orderBy("d")
    rk = ohlc.select(
        "event_type", "d", "h1", "l1", F.row_number().over(w_rn).alias("rn")
    )
    c = rk.select("event_type", "d", "rn")
    p = rk.select(
        F.col("event_type").alias("p_type"),
        F.col("rn").alias("p_rn"),
        F.col("h1").alias("p_h1"),
        F.col("l1").alias("p_l1"),
    )
    pairs = c.filter(F.col("rn") >= _AROON_W).join(
        p,
        (F.col("p_type") == F.col("event_type"))
        & (F.col("p_rn") >= F.col("rn") - (_AROON_W - 1))
        & (F.col("p_rn") <= F.col("rn")),
    )
    w_up = Window.partitionBy("event_type", "rn").orderBy(
        F.col("p_h1").desc(), F.col("p_rn").desc()
    )
    w_dn = Window.partitionBy("event_type", "rn").orderBy(
        F.col("p_l1").asc(), F.col("p_rn").desc()
    )
    picks = pairs.select(
        "event_type",
        "d",
        "rn",
        "p_rn",
        F.row_number().over(w_up).alias("rk_up"),
        F.row_number().over(w_dn).alias("rk_dn"),
    )
    agg = picks.groupBy("event_type", "d", "rn").agg(
        F.max(
            F.when(F.col("rk_up") == 1, F.col("rn") - F.col("p_rn"))
        ).alias("ds_up"),
        F.max(
            F.when(F.col("rk_dn") == 1, F.col("rn") - F.col("p_rn"))
        ).alias("ds_dn"),
    )
    unit = 100 // _AROON_W
    return agg.select(
        "event_type",
        "d",
        ((F.lit(_AROON_W) - F.col("ds_up")) * unit)
        .cast("bigint")
        .alias("aroon_up_pct"),
        ((F.lit(_AROON_W) - F.col("ds_dn")) * unit)
        .cast("bigint")
        .alias("aroon_dn_pct"),
        ((F.col("ds_dn") - F.col("ds_up")) * unit)
        .cast("bigint")
        .alias("aroon_osc"),
    ).orderBy("event_type", "d")


_STOCH_W = 10  # %K lookback
_STOCH_D = 3   # %D smoothing length


@query(
    "ts_stochastic_oscillator",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), ch AS (
        SELECT event_type, d, c1,
               MAX(h1) OVER w AS hh,
               MIN(l1) OVER w AS ll,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlc
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN {_STOCH_W - 1} PRECEDING
                              AND CURRENT ROW)
    ), k AS (
        SELECT event_type, d, rn,
               CASE WHEN hh > ll THEN
                   CAST(FLOOR(CAST((c1 - ll) * 10000 AS DOUBLE)
                              / (hh - ll)) AS BIGINT)
               ELSE 5000 END AS k_e2
        FROM ch
    ), kd AS (
        SELECT event_type, d, rn, k_e2,
               SUM(k_e2) OVER (PARTITION BY event_type ORDER BY rn
                               ROWS BETWEEN {_STOCH_D - 1} PRECEDING
                                        AND CURRENT ROW) AS ksum
        FROM k
    )
    SELECT event_type, d, k_e2,
           CAST(ksum // {_STOCH_D} AS BIGINT) AS d_e2
    FROM kd WHERE rn >= {_STOCH_W + _STOCH_D - 1}
    ORDER BY event_type, d
    """,
)
def ts_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator over the daily candle tape (round 13):
    %K = 100·(close − LL)/(HH − LL) over the trailing 10 candles, %D =
    3-day simple average of %K; emitted in e2 (0..10000). A flat
    window (HH = LL) reads 50% by convention — spelled identically in
    both engines. Exactness: (c1−ll)·10000 is an exact int, ONE double
    division floors to k_e2 BEFORE the %D sum (order-free bigint), and
    %D floor-divides positives where // and DIV agree.

    Scale: the daily rollup then three same-keyed windows over the
    calendar-bounded tape — one exchange."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(_STOCH_W - 1), 0)
    )
    w_rn = Window.partitionBy("event_type").orderBy("d")
    ch = ohlc.select(
        "event_type",
        "d",
        "c1",
        F.max("h1").over(w).alias("hh"),
        F.min("l1").over(w).alias("ll"),
        F.row_number().over(w_rn).alias("rn"),
    )
    k = ch.select(
        "event_type",
        "d",
        "rn",
        F.when(
            F.col("hh") > F.col("ll"),
            F.floor(
                ((F.col("c1") - F.col("ll")) * 10000).cast("double")
                / (F.col("hh") - F.col("ll"))
            ).cast("bigint"),
        )
        .otherwise(F.lit(5000))
        .alias("k_e2"),
    )
    w_d = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(-(_STOCH_D - 1), 0)
    )
    kd = k.withColumn("ksum", F.sum("k_e2").over(w_d))
    return (
        kd.filter(F.col("rn") >= _STOCH_W + _STOCH_D - 1)
        .select(
            "event_type",
            "d",
            "k_e2",
            F.expr(f"ksum DIV {_STOCH_D}").cast("bigint").alias("d_e2"),
        )
        .orderBy("event_type", "d")
    )


_CCI_W = 10
_CCI_C = "0.015"  # Lambert's scaling constant — shared literal


@query(
    "ts_cci",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), rk AS (
        SELECT event_type, d, (h1 + l1 + c1) AS tp3,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlc
    ), pairs AS (
        SELECT c.event_type, c.d, c.rn, c.tp3, p.tp3 AS p_tp3,
               p.rn AS p_rn
        FROM rk c JOIN rk p
          ON p.event_type = c.event_type
         AND p.rn BETWEEN c.rn - {_CCI_W - 1} AND c.rn
        WHERE c.rn >= {_CCI_W}
    ), sums AS (
        SELECT event_type, d, rn, MAX(tp3) AS tp3,
               CAST(SUM(p_tp3) AS BIGINT) AS stp3
        FROM pairs GROUP BY 1, 2, 3
    ), devs AS (
        SELECT s.event_type, s.d, s.tp3, s.stp3,
               CAST(SUM(ABS({_CCI_W} * p.p_tp3 - s.stp3)) AS BIGINT)
                   AS sabs
        FROM sums s JOIN pairs p
          ON p.event_type = s.event_type AND p.rn = s.rn
        GROUP BY 1, 2, 3, 4
    )
    SELECT event_type, d,
           CASE WHEN sabs > 0 THEN
               CAST(FLOOR(CAST(({_CCI_W} * tp3 - stp3) AS DOUBLE)
                          * {_CCI_W}
                          / ({_CCI_C} * CAST(sabs AS DOUBLE))
                          * 100.0) AS BIGINT)
           END AS cci_e2
    FROM devs ORDER BY event_type, d
    """,
)
def ts_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity Channel Index over the daily candle tape (round 13):
    CCI = (TP − SMA_W(TP)) / (0.015 · meandev_W(TP)) with TP the
    typical price (H+L+C)/3 and meandev the mean absolute deviation of
    the window's TPs from the window's OWN mean — the two-pass
    statistic no single window frame expresses.

    Exactness: TP stays as the ×3-scaled integer h1+l1+c1 (never
    divided); the deviation numerator W·tp3 − Σtp3 and the scaled
    meandev Σ|W·tp3_j − Σtp3| are exact bigints (the common 3W·e4
    scale cancels in the ratio); 0.015 is a shared literal; ONE double
    chain — num·W/(0.015·sabs)·100, same association both engines —
    floors to e2. Flat windows (sabs = 0) emit NULL.

    Scale: like ts_aroon, the per-window second pass runs as a
    W-fan-out band self-join on the PRE-REDUCED calendar-bounded tape;
    the corpus-scale work is the one daily rollup."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w_rn = Window.partitionBy("event_type").orderBy("d")
    rk = ohlc.select(
        "event_type",
        "d",
        (F.col("h1") + F.col("l1") + F.col("c1")).alias("tp3"),
        F.row_number().over(w_rn).alias("rn"),
    )
    c = rk.filter(F.col("rn") >= _CCI_W)
    p = rk.select(
        F.col("event_type").alias("p_type"),
        F.col("rn").alias("p_rn"),
        F.col("tp3").alias("p_tp3"),
    )
    pairs = c.join(
        p,
        (F.col("p_type") == F.col("event_type"))
        & (F.col("p_rn") >= F.col("rn") - (_CCI_W - 1))
        & (F.col("p_rn") <= F.col("rn")),
    ).select("event_type", "d", "rn", "tp3", "p_tp3", "p_rn")
    sums = pairs.groupBy("event_type", "d", "rn").agg(
        F.max("tp3").alias("tp3"),
        F.sum("p_tp3").cast("bigint").alias("stp3"),
    )
    devs = (
        sums.join(
            pairs.select(
                F.col("event_type").alias("p_type2"),
                F.col("rn").alias("rn2"),
                F.col("p_tp3").alias("pp_tp3"),
            ),
            (F.col("p_type2") == F.col("event_type"))
            & (F.col("rn2") == F.col("rn")),
        )
        .groupBy("event_type", "d", "tp3", "stp3")
        .agg(
            F.sum(
                F.abs(F.lit(_CCI_W) * F.col("pp_tp3") - F.col("stp3"))
            )
            .cast("bigint")
            .alias("sabs")
        )
    )
    return devs.select(
        "event_type",
        "d",
        F.when(
            F.col("sabs") > 0,
            F.floor(
                (F.lit(_CCI_W) * F.col("tp3") - F.col("stp3")).cast("double")
                * F.lit(float(_CCI_W))
                / (F.lit(float(_CCI_C)) * F.col("sabs").cast("double"))
                * F.lit(100.0)
            ).cast("bigint"),
        ).alias("cci_e2"),
    ).orderBy("event_type", "d")


@query(
    "ts_obv",
    f"""
    WITH ohlcv AS ({_DAILY_OHLCV_SQL}
    ), steps AS (
        SELECT event_type, d, vol,
               lag(c1) OVER (PARTITION BY event_type ORDER BY d)
                   AS prev_c,
               c1
        FROM ohlcv
    ), signed AS (
        SELECT event_type, d,
               CASE WHEN prev_c IS NULL THEN 0
                    WHEN c1 > prev_c THEN vol
                    WHEN c1 < prev_c THEN -vol
                    ELSE 0 END AS dv
        FROM steps
    )
    SELECT event_type, d,
           CAST(SUM(dv) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT)
               AS obv
    FROM signed ORDER BY event_type, d
    """,
)
def ts_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume over the daily candle tape (round 13): the
    running sum of each day's volume signed by the close-to-close
    direction — the classic confirmation indicator (price moves on
    rising OBV are participation-backed). Volume here is the day's
    trade count. Fully integer exact: sign, multiply, cumsum — no
    floats anywhere.

    Scale: daily rollup → one lag + one running-sum window, both keyed
    by event_type over the calendar-bounded tape; one exchange."""
    ohlcv = _daily_ohlcv(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    steps = ohlcv.select(
        "event_type",
        "d",
        "vol",
        "c1",
        F.lag("c1").over(w).alias("prev_c"),
    )
    signed = steps.select(
        "event_type",
        "d",
        F.when(F.col("prev_c").isNull(), F.lit(0))
        .when(F.col("c1") > F.col("prev_c"), F.col("vol"))
        .when(F.col("c1") < F.col("prev_c"), -F.col("vol"))
        .otherwise(F.lit(0))
        .alias("dv"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return signed.select(
        "event_type",
        "d",
        F.sum("dv").over(w_run).cast("bigint").alias("obv"),
    ).orderBy("event_type", "d")


_CMF_W = 10


@query(
    "ts_chaikin_money_flow",
    f"""
    WITH ohlcv AS ({_DAILY_OHLCV_SQL}
    ), mf AS (
        SELECT event_type, d, vol,
               CASE WHEN h1 > l1 THEN
                   CAST(FLOOR(CAST(2 * c1 - h1 - l1 AS DOUBLE)
                              * vol * 1000000.0 / (h1 - l1))
                        AS BIGINT)
               ELSE 0 END AS mfv_e6,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlcv
    ), sums AS (
        SELECT event_type, d, rn,
               SUM(mfv_e6) OVER w AS smfv,
               SUM(vol) OVER w AS svol
        FROM mf
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN {_CMF_W - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT event_type, d,
           CAST(FLOOR(CAST(smfv AS DOUBLE) / svol) AS BIGINT) AS cmf_e6
    FROM sums WHERE rn >= {_CMF_W}
    ORDER BY event_type, d
    """,
)
def ts_chaikin_money_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin money flow over the daily candle tape (round 13): the
    10-day volume-weighted close-location value Σ(mfm·vol)/Σvol with
    mfm = ((C−L)−(H−C))/(H−L) ∈ [−1,1] — where within the day's range
    the close landed, weighted by participation.

    Exactness: (2c−h−l) is an exact int cast to double BEFORE the
    ·vol·1e6 chain (the product would overflow bigint at sf100 trade
    counts — the r12 taint-haircut lesson); each day's money-flow
    volume floors to e6 BEFORE the order-free window sums; the final
    ratio is FLOOR(double/int) — // would floor-diverge from DIV on
    the legitimately negative numerator. Flat days (H = L) contribute
    0 by the standard convention.

    Scale: daily rollup → one lag-free keyed window pair over the
    calendar-bounded tape."""
    ohlcv = _daily_ohlcv(spark, sf_dir)
    w_rn = Window.partitionBy("event_type").orderBy("d")
    mf = ohlcv.select(
        "event_type",
        "d",
        "vol",
        F.when(
            F.col("h1") > F.col("l1"),
            F.floor(
                (2 * F.col("c1") - F.col("h1") - F.col("l1")).cast("double")
                * F.col("vol")
                * F.lit(1000000.0)
                / (F.col("h1") - F.col("l1"))
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("mfv_e6"),
        F.row_number().over(w_rn).alias("rn"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(_CMF_W - 1), 0)
    )
    sums = mf.select(
        "event_type",
        "d",
        "rn",
        F.sum("mfv_e6").over(w).alias("smfv"),
        F.sum("vol").over(w).alias("svol"),
    )
    return (
        sums.filter(F.col("rn") >= _CMF_W)
        .select(
            "event_type",
            "d",
            F.floor(F.col("smfv").cast("double") / F.col("svol"))
            .cast("bigint")
            .alias("cmf_e6"),
        )
        .orderBy("event_type", "d")
    )


# EMA smoothing factors as SHARED LITERALS (repr round-trip — the
# ts_mean_reversion_halflife rule): 2/(span+1) for spans 12/26/9.
_MACD_A12 = "0.15384615384615385"
_MACD_A26 = "0.07407407407407407"
_MACD_A9 = "0.2"


def _ema_prefix(lst, t, alpha: str):
    """EMA over the first t elements of a double array as an ORDERED
    left fold: seed = element 1 (DuckDB list_reduce semantics), then
    acc + α·(x − acc) over elements 2..t — bit-identical to the
    oracle's list_reduce(l[1:t], ...) chain."""
    return F.aggregate(
        F.slice(lst, F.lit(2), t - 1),
        F.element_at(lst, F.lit(1)),
        lambda acc, x: acc + F.lit(float(alpha)) * (x - acc),
    )


@query(
    "ts_macd",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), ordered AS (
        SELECT event_type,
               list(CAST(c1 AS DOUBLE) ORDER BY d) AS l,
               list(d ORDER BY d) AS ds
        FROM ohlc GROUP BY 1
    ), m AS (
        SELECT event_type, ds,
               list_transform(range(1, len(l) + 1), t ->
                   list_reduce(l[1:t],
                       (acc, x) -> acc + {_MACD_A12} * (x - acc))
                 - list_reduce(l[1:t],
                       (acc, x) -> acc + {_MACD_A26} * (x - acc))
               ) AS macd
        FROM ordered
    ), rows_out AS (
        SELECT event_type,
               unnest(ds) AS d,
               unnest(list_transform(range(1, len(macd) + 1), t ->
                   CAST(FLOOR(macd[t] * 1000000) AS BIGINT))) AS macd_e6,
               unnest(list_transform(range(1, len(macd) + 1), t ->
                   CAST(FLOOR(list_reduce(macd[1:t],
                       (acc, x) -> acc + {_MACD_A9} * (x - acc))
                       * 1000000) AS BIGINT))) AS signal_e6
        FROM m
    )
    SELECT event_type, d, macd_e6, signal_e6,
           CAST(macd_e6 - signal_e6 AS BIGINT) AS hist_e6
    FROM rows_out ORDER BY event_type, d
    """,
)
def ts_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD over the daily candle tape (round 13): EMA12 − EMA26 of
    the close, a 9-day EMA signal line, and the histogram — the
    momentum-crossover readout the candle family lacked. EMAs seed
    with the first close (the ts_ewma seeding convention).

    Exactness: the inherently sequential EMA recurrences run as
    ORDERED left folds over the per-series close array — Spark
    F.aggregate and DuckDB list_reduce walk the identical element
    order with identical shared-literal α's, so every IEEE64 step
    matches bit-for-bit (the ts_ewma parity argument, extended to
    per-day PREFIX folds); macd floors e6 per day before the integer
    histogram subtraction.

    Scale: the tape is calendar-bounded (|days| per series grows with
    time, never data volume), so the O(days²) prefix folds are a
    constant-bounded per-key cost; the corpus-scale work is the one
    daily rollup. A production stream would carry the EMA pair as
    running state (stream_stateful), not re-fold."""
    ohlc = _daily_ohlc(spark, sf_dir)
    g = ohlc.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("d", "c1"))).alias("rows")
    )
    g = g.select(
        "event_type",
        F.transform("rows", lambda r: r["c1"].cast("double")).alias("l"),
        F.transform("rows", lambda r: r["d"]).alias("ds"),
    )
    seq = F.sequence(F.lit(1), F.size("l"))
    g = g.withColumn(
        "macd",
        F.transform(
            seq,
            lambda t: _ema_prefix(F.col("l"), t, _MACD_A12)
            - _ema_prefix(F.col("l"), t, _MACD_A26),
        ),
    )
    items = F.transform(
        F.sequence(F.lit(1), F.size("macd")),
        lambda t: F.struct(
            F.element_at("ds", t).alias("d"),
            F.floor(F.element_at("macd", t) * 1000000)
            .cast("bigint")
            .alias("macd_e6"),
            F.floor(_ema_prefix(F.col("macd"), t, _MACD_A9) * 1000000)
            .cast("bigint")
            .alias("signal_e6"),
        ),
    )
    return (
        g.select("event_type", F.explode(items).alias("it"))
        .select(
            "event_type",
            F.col("it.d").alias("d"),
            F.col("it.macd_e6").alias("macd_e6"),
            F.col("it.signal_e6").alias("signal_e6"),
            (F.col("it.macd_e6") - F.col("it.signal_e6"))
            .cast("bigint")
            .alias("hist_e6"),
        )
        .orderBy("event_type", "d")
    )


_ATR_A = "0.1"  # Wilder smoothing 1/W at W=10 — shared literal


@query(
    "ts_atr_wilder",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), ordered AS (
        SELECT event_type,
               list(h1 ORDER BY d) AS hs,
               list(l1 ORDER BY d) AS ls,
               list(c1 ORDER BY d) AS cs,
               list(d ORDER BY d) AS ds
        FROM ohlc GROUP BY 1
    ), tr AS (
        SELECT event_type, ds,
               list_transform(range(1, len(hs) + 1), t ->
                   CASE WHEN t = 1
                        THEN CAST(hs[t] - ls[t] AS DOUBLE)
                        ELSE CAST(GREATEST(hs[t] - ls[t],
                                           ABS(hs[t] - cs[t - 1]),
                                           ABS(ls[t] - cs[t - 1]))
                                  AS DOUBLE) END) AS trs
        FROM ordered
    )
    SELECT event_type,
           unnest(ds) AS d,
           unnest(list_transform(range(1, len(trs) + 1), t ->
               CAST(trs[t] AS BIGINT))) AS tr_e4,
           unnest(list_transform(range(1, len(trs) + 1), t ->
               CAST(FLOOR(list_reduce(trs[1:t],
                   (acc, x) -> acc + {_ATR_A} * (x - acc)))
                   AS BIGINT))) AS atr_e4
    FROM tr ORDER BY event_type, d
    """,
)
def ts_atr_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range with Wilder smoothing over the daily candle
    tape (round 13): TR = max(H−L, |H−C_prev|, |L−C_prev|) — the range
    measure that counts overnight gaps — smoothed by the recursive
    ATR_t = ATR_{t−1} + (1/W)·(TR_t − ATR_{t−1}), seeded with the
    first TR (ts_ewma convention; Wilder's SMA-of-first-W seed is a
    documented deviation).

    Exactness: TRs are exact shifted-e4 integer arithmetic cast to
    double once; the recursive smooth is the same ordered prefix-fold
    discipline as ts_macd (bit-identical F.aggregate / list_reduce
    chains, shared-literal α); per-day ATR floors to e4.

    Scale: identical posture to ts_macd — calendar-bounded per-key
    prefix folds over the pre-reduced tape; streaming form carries one
    double of state."""
    ohlc = _daily_ohlc(spark, sf_dir)
    g = ohlc.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct("d", "h1", "l1", "c1"))
        ).alias("rows")
    )
    g = g.select(
        "event_type",
        F.transform("rows", lambda r: r["h1"]).alias("hs"),
        F.transform("rows", lambda r: r["l1"]).alias("ls"),
        F.transform("rows", lambda r: r["c1"]).alias("cs"),
        F.transform("rows", lambda r: r["d"]).alias("ds"),
    )
    trs = F.transform(
        F.sequence(F.lit(1), F.size("hs")),
        lambda t: F.when(
            t == 1,
            (F.element_at("hs", t) - F.element_at("ls", t)).cast("double"),
        ).otherwise(
            F.greatest(
                F.element_at("hs", t) - F.element_at("ls", t),
                F.abs(F.element_at("hs", t) - F.element_at("cs", t - 1)),
                F.abs(F.element_at("ls", t) - F.element_at("cs", t - 1)),
            ).cast("double")
        ),
    )
    g = g.withColumn("trs", trs)
    items = F.transform(
        F.sequence(F.lit(1), F.size("trs")),
        lambda t: F.struct(
            F.element_at("ds", t).alias("d"),
            F.element_at("trs", t).cast("bigint").alias("tr_e4"),
            F.floor(_ema_prefix(F.col("trs"), t, _ATR_A))
            .cast("bigint")
            .alias("atr_e4"),
        ),
    )
    return (
        g.select("event_type", F.explode(items).alias("it"))
        .select(
            "event_type",
            F.col("it.d").alias("d"),
            F.col("it.tr_e4").alias("tr_e4"),
            F.col("it.atr_e4").alias("atr_e4"),
        )
        .orderBy("event_type", "d")
    )


@query(
    "ts_c3_nonlinearity",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), lagged AS (
        SELECT event_type, c1,
               lead(c1, 1) OVER (PARTITION BY event_type ORDER BY d)
                   AS c2,
               lead(c1, 2) OVER (PARTITION BY event_type ORDER BY d)
                   AS c3
        FROM ohlc
    ), terms AS (
        SELECT event_type,
               CAST(c1 AS HUGEINT) * c2 * c3 AS triple
        FROM lagged WHERE c3 IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(FLOOR(CAST(CAST(SUM(triple) AS DECIMAL(38, 0)) AS DOUBLE)
                      / COUNT(*)) AS BIGINT) AS c3_mean
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def ts_c3_nonlinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tsfresh c3 nonlinearity statistic (lag 1) per series over
    the daily close tape: mean(x_t · x_{t+1} · x_{t+2}) — a
    third-order moment that reads ≈μ³ for linear/Gaussian dynamics and
    shifts when the series has multiplicative (nonlinear) structure;
    the cheapest standard screen before fitting anything nonlinear.

    Exactness: closes are shifted-e4 ints; each triple product runs in
    HUGEINT/decimal(38,0) (an e4³ triple overflows int64 — the gini
    discipline applied at design time); the order-free decimal sum
    re-enters doubles only in the one final floored division.

    Scale: daily rollup → two same-keyed leads → keyed decimal sum;
    one exchange over the calendar-bounded tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = ohlc.select(
        "event_type",
        "c1",
        F.lead("c1", 1).over(w).alias("c2"),
        F.lead("c1", 2).over(w).alias("c3"),
    ).filter(F.col("c3").isNotNull())
    terms = lagged.select(
        "event_type",
        (
            F.col("c1").cast("decimal(38,0)") * F.col("c2") * F.col("c3")
        ).alias("triple"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.floor(
                F.sum("triple").cast("decimal(38,0)").cast("double")
                / F.count("*")
            )
            .cast("bigint")
            .alias("c3_mean"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_time_asymmetry",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), lagged AS (
        SELECT event_type, c1,
               lead(c1, 1) OVER (PARTITION BY event_type ORDER BY d)
                   AS c2,
               lead(c1, 2) OVER (PARTITION BY event_type ORDER BY d)
                   AS c3
        FROM ohlc
    ), terms AS (
        SELECT event_type,
               CAST(c3 AS HUGEINT) * c3 * c2
             - CAST(c2 AS HUGEINT) * c1 * c1 AS term
        FROM lagged WHERE c3 IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(FLOOR(CAST(CAST(SUM(term) AS DECIMAL(38, 0)) AS DOUBLE)
                      / COUNT(*)) AS BIGINT) AS tra_mean
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def ts_time_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tsfresh time-reversal-asymmetry statistic (lag 1) per
    series: mean(x_{t+2}²·x_{t+1} − x_{t+1}·x_t²). Zero in
    expectation for any time-reversible (e.g. linear Gaussian)
    process — a significantly nonzero reading means the tape looks
    different played backwards, the signature of asymmetric dynamics
    (slow build / fast crash). Companion third-order screen to
    ts_c3_nonlinearity, same exactness posture: HUGEINT/decimal
    triples, order-free decimal sum, ONE final floored division.

    Scale: identical to ts_c3_nonlinearity — one keyed exchange over
    the calendar-bounded tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = ohlc.select(
        "event_type",
        "c1",
        F.lead("c1", 1).over(w).alias("c2"),
        F.lead("c1", 2).over(w).alias("c3"),
    ).filter(F.col("c3").isNotNull())
    d38 = "decimal(38,0)"
    terms = lagged.select(
        "event_type",
        (
            F.col("c3").cast(d38) * F.col("c3") * F.col("c2")
            - F.col("c2").cast(d38) * F.col("c1") * F.col("c1")
        ).alias("term"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.floor(
                F.sum("term").cast(d38).cast("double") / F.count("*")
            )
            .cast("bigint")
            .alias("tra_mean"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_mean_crossings",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), tot AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c1) AS BIGINT) AS s
        FROM ohlc GROUP BY 1
    ), signed AS (
        SELECT o.event_type, t.n,
               CASE WHEN t.n * o.c1 - t.s > 0 THEN 1
                    WHEN t.n * o.c1 - t.s < 0 THEN -1
                    ELSE 0 END AS sgn,
               lead(CASE WHEN t.n * o.c1 - t.s > 0 THEN 1
                         WHEN t.n * o.c1 - t.s < 0 THEN -1
                         ELSE 0 END)
                   OVER (PARTITION BY o.event_type ORDER BY o.d)
                   AS nxt
        FROM ohlc o JOIN tot t USING (event_type)
    )
    SELECT event_type, MAX(n) AS n_days,
           CAST(SUM(CASE WHEN sgn * nxt < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS crossings,
           CAST(SUM(CASE WHEN sgn * nxt < 0 THEN 1 ELSE 0 END) * 10000
                // (MAX(n) - 1) AS BIGINT) AS crossing_rate_e4
    FROM signed GROUP BY event_type ORDER BY event_type
    """,
)
def ts_mean_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-crossing count per series over the daily close tape: how
    often consecutive closes straddle the series mean (strict sign
    flip; touching the mean exactly is not a crossing) — the cheap
    oscillation-vs-trend discriminator (a trending tape crosses its
    mean ~once; white noise ~every other step).

    Exactness: the mean never materializes — the sign of (x − mean)
    is the sign of the exact integer n·x − Σx (the DIV-means rule);
    crossings and the e4 rate are pure integer arithmetic (// = DIV
    above zero).

    Scale: one keyed rollup for (n, Σ), a broadcast-sized join back,
    one keyed lead window — all on the calendar-bounded tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    tot = ohlc.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c1").cast("bigint").alias("s"),
    )
    sgn = (
        F.when(F.col("n") * F.col("c1") - F.col("s") > 0, F.lit(1))
        .when(F.col("n") * F.col("c1") - F.col("s") < 0, F.lit(-1))
        .otherwise(F.lit(0))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    signed = (
        ohlc.join(F.broadcast(tot), "event_type")
        .select("event_type", "d", "n", sgn.alias("sgn"))
        .withColumn("nxt", F.lead("sgn").over(w))
    )
    cross = F.sum(
        F.when(F.col("sgn") * F.col("nxt") < 0, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        signed.groupBy("event_type")
        .agg(
            F.max("n").alias("n_days"),
            cross.cast("bigint").alias("crossings"),
            F.expr(
                "CAST(SUM(CASE WHEN sgn * nxt < 0 THEN 1 ELSE 0 END)"
                " * 10000 DIV (MAX(n) - 1) AS BIGINT)"
            ).alias("crossing_rate_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_cid_distance_matrix",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), diffs AS (
        SELECT event_type,
               c1 - lag(c1) OVER (PARTITION BY event_type ORDER BY d)
                   AS dx
        FROM ohlc
    ), ce AS (
        SELECT event_type, CAST(SUM(dx * dx) AS BIGINT) AS ce2
        FROM diffs WHERE dx IS NOT NULL GROUP BY 1
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(SUM((a.c1 - b.c1) * (a.c1 - b.c1)) AS BIGINT) AS ssd
        FROM ohlc a JOIN ohlc b
          ON a.d = b.d AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           ca.ce2 AS ce2_a, cb.ce2 AS ce2_b,
           CASE WHEN LEAST(ca.ce2, cb.ce2) > 0 THEN
               CAST(FLOOR(SQRT(CAST(p.ssd AS DOUBLE))
                          * SQRT(CAST(GREATEST(ca.ce2, cb.ce2) AS DOUBLE)
                                 / LEAST(ca.ce2, cb.ce2)))
                    AS BIGINT)
           END AS cid_e4
    FROM pairs p
    JOIN ce ca ON ca.event_type = p.type_a
    JOIN ce cb ON cb.event_type = p.type_b
    ORDER BY p.type_a, p.type_b
    """,
)
def ts_cid_distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complexity-invariant distance (CID, Batista et al.) between
    every pair of daily close series: Euclidean distance on aligned
    days × the complexity correction max(CE)/min(CE), where CE² =
    Σ(Δx)² — so a smooth series is pushed AWAY from a jagged one even
    when their pointwise gap is small. The standard correction before
    k-NN/clustering over raw tapes.

    Exactness: CE² and the pairwise Σ(a−b)² are exact bigints (e4-int
    diffs, 30 terms); max/min over ints; the double enters in one
    shared SQRT·SQRT chain (CF = √(max ce²/min ce²) — monotonicity
    moves the ratio inside one sqrt), floored in e4 value units.
    Flat-series pairs (min CE² = 0) emit NULL.

    Scale: |types|² pairs on the calendar-aligned tape — the pair join
    is keyed on the date (co-partitioned equi-join), never a
    cartesian over rows; bounded by (series count)², the audit shape
    of every *_matrix row in §2."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    diffs = ohlc.select(
        "event_type", (F.col("c1") - F.lag("c1").over(w)).alias("dx")
    ).filter(F.col("dx").isNotNull())
    ce = diffs.groupBy("event_type").agg(
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("ce2")
    )
    a = ohlc.select(
        F.col("event_type").alias("type_a"), "d", F.col("c1").alias("ca")
    )
    b = ohlc.select(
        F.col("event_type").alias("type_b"),
        F.col("d").alias("d_b"),
        F.col("c1").alias("cb"),
    )
    pairs = (
        a.join(b, (F.col("d") == F.col("d_b")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .cast("bigint")
            .alias("ssd")
        )
    )
    ca = ce.select(F.col("event_type").alias("type_a"), F.col("ce2").alias("ce2_a"))
    cb = ce.select(F.col("event_type").alias("type_b"), F.col("ce2").alias("ce2_b"))
    out = pairs.join(F.broadcast(ca), "type_a").join(F.broadcast(cb), "type_b")
    lo = F.least(F.col("ce2_a"), F.col("ce2_b"))
    hi = F.greatest(F.col("ce2_a"), F.col("ce2_b"))
    return out.select(
        "type_a",
        "type_b",
        "ce2_a",
        "ce2_b",
        F.when(
            lo > 0,
            F.floor(
                F.sqrt(F.col("ssd").cast("double"))
                * F.sqrt(hi.cast("double") / lo)
            ).cast("bigint"),
        ).alias("cid_e4"),
    ).orderBy("type_a", "type_b")


@query(
    "ts_otsu_step_threshold",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c1) AS BIGINT) AS s
        FROM ohlc GROUP BY 1
    ), cum AS (
        SELECT event_type, c1 AS thr,
               CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type
                                        ORDER BY c1) AS BIGINT) AS n0,
               CAST(SUM(SUM(c1)) OVER (PARTITION BY event_type
                                       ORDER BY c1) AS BIGINT) AS s0
        FROM ohlc GROUP BY event_type, c1
    ), scored AS (
        SELECT c.event_type, c.thr, c.n0, t.n - c.n0 AS n1,
               CAST(c.s0 * (t.n - c.n0) - (t.s - c.s0) * c.n0 AS DOUBLE)
                   AS dnum,
               t.n AS n
        FROM cum c JOIN tot t USING (event_type)
        WHERE c.n0 < t.n
    ), ranked AS (
        SELECT event_type, thr, n0, n1,
               CAST(FLOOR(dnum * dnum / (n0 * n1) / (n * n)) AS BIGINT)
                   AS between_var,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY dnum * dnum / (n0 * n1)
                                           / (n * n) DESC,
                                           thr ASC) AS rk
        FROM scored
    )
    SELECT event_type, CAST(thr AS BIGINT) AS thr_e4,
           CAST(n0 AS BIGINT) AS n_low, CAST(n1 AS BIGINT) AS n_high,
           between_var
    FROM ranked WHERE rk = 1 ORDER BY event_type
    """,
)
def ts_otsu_step_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu's threshold on each series' daily closes (round 13): the
    split value maximizing between-class variance ω0·ω1·(μ0−μ1)² —
    the histogram-native two-regime separator (low/high plateau of a
    step change) that needs no changepoint model; companion to
    ts_changepoint_* which find WHEN, this finds WHERE the level sits.

    Exactness: candidate thresholds are the distinct closes; per
    candidate, n0/S0 come from cumulative integer windows and the
    variance numerator S0·n1 − S1·n0 is an exact int64 (≤ Σx·n)
    entering ONE shared double chain d²/(n0·n1)/n² (same
    association both engines), argmax tie-pinned to the smallest
    threshold.

    Scale: one keyed rollup to distinct values + cumulative windows
    keyed by series — |types|×|distinct closes| rows, never
    corpus-sized; the argmax is a keyed top-1."""
    ohlc = _daily_ohlc(spark, sf_dir)
    tot = ohlc.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c1").cast("bigint").alias("s"),
    )
    byval = ohlc.groupBy("event_type", F.col("c1").alias("thr")).agg(
        F.count("*").alias("cnt"), F.sum("c1").alias("sv")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("thr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = byval.select(
        "event_type",
        "thr",
        F.sum("cnt").over(w_cum).cast("bigint").alias("n0"),
        F.sum("sv").over(w_cum).cast("bigint").alias("s0"),
    )
    scored = (
        cum.join(F.broadcast(tot), "event_type")
        .filter(F.col("n0") < F.col("n"))
        .select(
            "event_type",
            "thr",
            "n0",
            (F.col("n") - F.col("n0")).alias("n1"),
            (
                F.col("s0") * (F.col("n") - F.col("n0"))
                - (F.col("s") - F.col("s0")) * F.col("n0")
            )
            .cast("double")
            .alias("dnum"),
            "n",
        )
    )
    score = (
        F.col("dnum") * F.col("dnum")
        / (F.col("n0") * F.col("n1"))
        / (F.col("n") * F.col("n"))
    )
    w_rk = Window.partitionBy("event_type").orderBy(
        score.desc(), F.col("thr").asc()
    )
    ranked = scored.select(
        "event_type",
        "thr",
        "n0",
        "n1",
        F.floor(score).cast("bigint").alias("between_var"),
        F.row_number().over(w_rk).alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("thr").cast("bigint").alias("thr_e4"),
            F.col("n0").cast("bigint").alias("n_low"),
            F.col("n1").cast("bigint").alias("n_high"),
            "between_var",
        )
        .orderBy("event_type")
    )


@query(
    "events_nnt_risk",
    """
    WITH flags AS (
        SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS exposed,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS outcome
        FROM events
    ), s AS (
        SELECT CAST(COUNT(*) FILTER (exposed = 1) AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (exposed = 0) AS BIGINT) AS n0,
               CAST(COUNT(*) FILTER (exposed = 1 AND outcome = 1)
                    AS BIGINT) AS x1,
               CAST(COUNT(*) FILTER (exposed = 0 AND outcome = 1)
                    AS BIGINT) AS x0
        FROM flags
    )
    SELECT n1, n0, x1, x0,
           CAST(FLOOR((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
                      * 1000000) AS BIGINT) AS arr_e6,
           CAST(FLOOR(CAST(x1 AS DOUBLE) / n1
                      / (CAST(x0 AS DOUBLE) / n0) * 1000000) AS BIGINT)
               AS rr_e6,
           CASE WHEN x1 * n0 <> x0 * n1 THEN
               CAST(FLOOR(100.0
                          / (CAST(x1 AS DOUBLE) / n1
                             - CAST(x0 AS DOUBLE) / n0)) AS BIGINT)
           END AS nnt_e2
    FROM s
    """,
)
def events_nnt_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk difference, relative risk, and NUMBER NEEDED TO TREAT for
    the weekend-exposure → purchase-outcome 2×2 (round 13): NNT =
    1/ARR is the decision-facing form of agg_two_proportion_z's
    z-statistic ("how many weekend sessions per extra purchase") —
    the same margins, so the two rows referee each other; the CI
    lives in agg_newcombe_diff_ci.

    Exactness: four filtered counts; ARR/RR/NNT are one floored
    double chain each; the NNT pole (equal risks — spelled as the
    exact integer cross-product x1·n0 = x0·n1) emits NULL.

    Scale: one filtered-count fold — the cheapest shape."""
    ev = load(spark, sf_dir, "events")
    flags = ev.select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("exposed"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("outcome"),
    )
    s = flags.agg(
        F.count_if(F.col("exposed") == 1).cast("bigint").alias("n1"),
        F.count_if(F.col("exposed") == 0).cast("bigint").alias("n0"),
        F.count_if((F.col("exposed") == 1) & (F.col("outcome") == 1))
        .cast("bigint")
        .alias("x1"),
        F.count_if((F.col("exposed") == 0) & (F.col("outcome") == 1))
        .cast("bigint")
        .alias("x0"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    arr = d("x1") / F.col("n1") - d("x0") / F.col("n0")
    rr = d("x1") / F.col("n1") / (d("x0") / F.col("n0"))
    return s.select(
        "n1",
        "n0",
        "x1",
        "x0",
        F.floor(arr * 1000000).cast("bigint").alias("arr_e6"),
        F.floor(rr * 1000000).cast("bigint").alias("rr_e6"),
        F.when(
            F.col("x1") * F.col("n0") != F.col("x0") * F.col("n1"),
            F.floor(100.0 / arr),
        )
        .cast("bigint")
        .alias("nnt_e2"),
    )


_KER_W = 10


@query(
    "ts_kaufman_efficiency",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), steps AS (
        SELECT event_type, d, c1,
               ABS(c1 - lag(c1) OVER (PARTITION BY event_type ORDER BY d))
                   AS step,
               lag(c1, {_KER_W}) OVER (PARTITION BY event_type ORDER BY d)
                   AS c_w_ago,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlc
    ), sums AS (
        SELECT event_type, d, rn, c1, c_w_ago,
               SUM(step) OVER (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN {_KER_W - 1} PRECEDING
                                        AND CURRENT ROW) AS noise
        FROM steps
    )
    SELECT event_type, d,
           CAST(ABS(c1 - c_w_ago) AS BIGINT) AS signal_e4,
           CAST(noise AS BIGINT) AS noise_e4,
           CASE WHEN noise > 0 THEN
               CAST(ABS(c1 - c_w_ago) * 1000000 // noise AS BIGINT)
           END AS er_e6
    FROM sums WHERE rn > {_KER_W}
    ORDER BY event_type, d
    """,
)
def ts_kaufman_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman efficiency ratio over the daily close tape (round 13):
    net 10-day move over the sum of the 10 daily absolute steps —
    1 = perfect trend, →0 = pure chop; the adaptivity input of KAMA
    and the cheapest trend-vs-noise discriminator next to
    ts_mean_crossings (which counts, where this weighs). PURE integer
    arithmetic: signal, noise and the e6 ratio are exact ints (// =
    DIV on non-negatives); flat windows (noise 0) emit NULL.

    Scale: one lag + one windowed sum over the calendar-bounded tape,
    same keyed exchange."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    w_sum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(_KER_W - 1), 0)
    )
    steps = ohlc.select(
        "event_type",
        "d",
        "c1",
        F.abs(F.col("c1") - F.lag("c1").over(w)).alias("step"),
        F.lag("c1", _KER_W).over(w).alias("c_w_ago"),
        F.row_number().over(w).alias("rn"),
    )
    sums = steps.withColumn("noise", F.sum("step").over(w_sum))
    return (
        sums.filter(F.col("rn") > _KER_W)
        .select(
            "event_type",
            "d",
            F.abs(F.col("c1") - F.col("c_w_ago"))
            .cast("bigint")
            .alias("signal_e4"),
            F.col("noise").cast("bigint").alias("noise_e4"),
            F.when(
                F.col("noise") > 0,
                F.expr(
                    "CAST(ABS(c1 - c_w_ago) * 1000000 DIV noise AS BIGINT)"
                ),
            ).alias("er_e6"),
        )
        .orderBy("event_type", "d")
    )


_VORTEX_W = 10


@query(
    "ts_vortex_indicator",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), steps AS (
        SELECT event_type, d, h1, l1,
               lag(h1) OVER (PARTITION BY event_type ORDER BY d) AS ph,
               lag(l1) OVER (PARTITION BY event_type ORDER BY d) AS pl,
               lag(c1) OVER (PARTITION BY event_type ORDER BY d) AS pc,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlc
    ), vm AS (
        SELECT event_type, d, rn,
               ABS(h1 - pl) AS vm_plus,
               ABS(l1 - ph) AS vm_minus,
               GREATEST(h1 - l1, ABS(h1 - pc), ABS(l1 - pc)) AS tr
        FROM steps WHERE ph IS NOT NULL
    ), sums AS (
        SELECT event_type, d, rn,
               SUM(vm_plus) OVER w AS svp,
               SUM(vm_minus) OVER w AS svm,
               SUM(tr) OVER w AS str
        FROM vm
        WINDOW w AS (PARTITION BY event_type ORDER BY rn
                     ROWS BETWEEN {_VORTEX_W - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT event_type, d,
           CASE WHEN str > 0
                THEN CAST(svp * 1000000 // str AS BIGINT) END AS vi_plus_e6,
           CASE WHEN str > 0
                THEN CAST(svm * 1000000 // str AS BIGINT) END AS vi_minus_e6
    FROM sums WHERE rn > {_VORTEX_W}
    ORDER BY event_type, d
    """,
)
def ts_vortex_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex indicator over the daily candle tape (round 13): VI+ =
    Σ|H−L_prev|/ΣTR and VI− = Σ|L−H_prev|/ΣTR over 10 days — the
    directional-rotation pair whose crossovers flag trend flips;
    shares the true-range cell with ts_atr_wilder so the two rows
    referee each other's TR. PURE integer arithmetic (vortex moves,
    TR, windowed sums, e6 floor-divisions of non-negatives).

    Scale: one keyed lag + three same-frame windowed sums over the
    calendar-bounded tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    steps = ohlc.select(
        "event_type",
        "d",
        "h1",
        "l1",
        F.lag("h1").over(w).alias("ph"),
        F.lag("l1").over(w).alias("pl"),
        F.lag("c1").over(w).alias("pc"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("ph").isNotNull())
    vm = steps.select(
        "event_type",
        "d",
        "rn",
        F.abs(F.col("h1") - F.col("pl")).alias("vm_plus"),
        F.abs(F.col("l1") - F.col("ph")).alias("vm_minus"),
        F.greatest(
            F.col("h1") - F.col("l1"),
            F.abs(F.col("h1") - F.col("pc")),
            F.abs(F.col("l1") - F.col("pc")),
        ).alias("tr"),
    )
    w_sum = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(-(_VORTEX_W - 1), 0)
    )
    sums = vm.select(
        "event_type",
        "d",
        "rn",
        F.sum("vm_plus").over(w_sum).alias("svp"),
        F.sum("vm_minus").over(w_sum).alias("svm"),
        F.sum("tr").over(w_sum).alias("str"),
    )
    return (
        sums.filter(F.col("rn") > _VORTEX_W)
        .select(
            "event_type",
            "d",
            F.when(
                F.col("str") > 0,
                F.expr("CAST(svp * 1000000 DIV str AS BIGINT)"),
            ).alias("vi_plus_e6"),
            F.when(
                F.col("str") > 0,
                F.expr("CAST(svm * 1000000 DIV str AS BIGINT)"),
            ).alias("vi_minus_e6"),
        )
        .orderBy("event_type", "d")
    )


@query(
    "ts_force_index",
    f"""
    WITH ohlcv AS ({_DAILY_OHLCV_SQL}
    ), steps AS (
        SELECT event_type, d,
               (c1 - lag(c1) OVER (PARTITION BY event_type ORDER BY d))
                   * vol AS fi,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlcv
    )
    SELECT event_type, d,
           CAST(fi AS BIGINT) AS force_e4,
           CAST(SUM(fi) OVER (PARTITION BY event_type ORDER BY rn
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS force_sum10_e4
    FROM steps WHERE rn > 1 ORDER BY event_type, d
    """,
)
def ts_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder's force index over the daily candle tape (round 13):
    (close − prev close)·volume per day plus its 10-day rolling sum —
    price change weighted by the participation behind it, the signed
    companion to ts_obv (OBV keeps only the sign of the move, force
    keeps its size). PURE integer arithmetic end-to-end.

    Scale: one keyed lag + one windowed sum over the calendar-bounded
    OHLCV tape."""
    ohlcv = _daily_ohlcv(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    steps = ohlcv.select(
        "event_type",
        "d",
        ((F.col("c1") - F.lag("c1").over(w)) * F.col("vol")).alias("fi"),
        F.row_number().over(w).alias("rn"),
    )
    w_sum = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(-9, 0)
    )
    return (
        steps.filter(F.col("rn") > 1)
        .select(
            "event_type",
            "d",
            F.col("fi").cast("bigint").alias("force_e4"),
            F.sum("fi").over(w_sum).cast("bigint").alias("force_sum10_e4"),
        )
        .orderBy("event_type", "d")
    )


# DFA scale set + shared ln literals (the GK/mean-reversion rule: both
# engines hold the identical IEEE doubles for ln of the CONSTANT
# scales; repr round-trip).
_DFA_SCALES = (5, 10, 15)
_DFA_LN = {5: "1.6094379124341003", 10: "2.302585092994046",
           15: "2.70805020110221"}


@query(
    "ts_dfa_alpha",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c1) AS BIGINT) AS s
        FROM ohlc GROUP BY 1
    ), prof AS (
        SELECT o.event_type, t.n,
               row_number() OVER (PARTITION BY o.event_type ORDER BY o.d)
                   AS rn,
               t.n * (SUM(o.c1) OVER (PARTITION BY o.event_type
                                      ORDER BY o.d
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW))
               - (row_number() OVER (PARTITION BY o.event_type
                                     ORDER BY o.d)) * t.s AS y
        FROM ohlc o JOIN tot t USING (event_type)
    ), blocks AS (
        SELECT p.event_type, sc.s,
               (p.rn - 1) // sc.s AS blk,
               p.rn - ((p.rn - 1) // sc.s) * sc.s AS i,
               p.y
        FROM prof p
        CROSS JOIN (SELECT unnest([5, 10, 15]) AS s) sc
        WHERE p.rn <= sc.s * (p.n // sc.s)
    ), fit AS (
        SELECT event_type, s, blk,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(i AS HUGEINT) * y) AS siy
        FROM blocks GROUP BY 1, 2, 3
    ), rss AS (
        SELECT event_type, s,
               CAST(FLOOR(
                   (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / s)
                   - (CAST(siy AS DOUBLE)
                      - (s + 1.0) / 2.0 * CAST(sy AS DOUBLE))
                     * (CAST(siy AS DOUBLE)
                        - (s + 1.0) / 2.0 * CAST(sy AS DOUBLE))
                     / (s * (CAST(s AS DOUBLE) * s - 1.0) / 12.0))
                   AS BIGINT) AS rss_f
        FROM fit
    ), fs AS (
        SELECT event_type, s,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(rss_f) AS BIGINT) AS srss
        FROM rss GROUP BY 1, 2
    ), piv AS (
        SELECT event_type,
               MAX(CASE WHEN s = 5 THEN
                   0.5 * ln(CAST(srss AS DOUBLE) / (n_blocks * 5)) END)
                   AS lf5,
               MAX(CASE WHEN s = 10 THEN
                   0.5 * ln(CAST(srss AS DOUBLE) / (n_blocks * 10)) END)
                   AS lf10,
               MAX(CASE WHEN s = 15 THEN
                   0.5 * ln(CAST(srss AS DOUBLE) / (n_blocks * 15)) END)
                   AS lf15
        FROM fs GROUP BY event_type
    )
    SELECT event_type,
           CAST(FLOOR(lf5 * 10000) AS BIGINT) AS ln_f5_e4,
           CAST(FLOOR(lf10 * 10000) AS BIGINT) AS ln_f10_e4,
           CAST(FLOOR(lf15 * 10000) AS BIGINT) AS ln_f15_e4,
           CAST(FLOOR(
               (({_DFA_LN[5]} - ({_DFA_LN[5]} + {_DFA_LN[10]}
                                 + {_DFA_LN[15]}) / 3.0) * lf5
                + ({_DFA_LN[10]} - ({_DFA_LN[5]} + {_DFA_LN[10]}
                                    + {_DFA_LN[15]}) / 3.0) * lf10
                + ({_DFA_LN[15]} - ({_DFA_LN[5]} + {_DFA_LN[10]}
                                    + {_DFA_LN[15]}) / 3.0) * lf15)
               / (({_DFA_LN[5]} - ({_DFA_LN[5]} + {_DFA_LN[10]}
                                   + {_DFA_LN[15]}) / 3.0)
                  * ({_DFA_LN[5]} - ({_DFA_LN[5]} + {_DFA_LN[10]}
                                     + {_DFA_LN[15]}) / 3.0)
                  + ({_DFA_LN[10]} - ({_DFA_LN[5]} + {_DFA_LN[10]}
                                      + {_DFA_LN[15]}) / 3.0)
                    * ({_DFA_LN[10]} - ({_DFA_LN[5]} + {_DFA_LN[10]}
                                        + {_DFA_LN[15]}) / 3.0)
                  + ({_DFA_LN[15]} - ({_DFA_LN[5]} + {_DFA_LN[10]}
                                      + {_DFA_LN[15]}) / 3.0)
                    * ({_DFA_LN[15]} - ({_DFA_LN[5]} + {_DFA_LN[10]}
                                        + {_DFA_LN[15]}) / 3.0))
               * 10000) AS BIGINT) AS dfa_alpha_e4
    FROM piv ORDER BY event_type
    """,
)
def ts_dfa_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis per series (round 13): the DFA
    scaling exponent α from RMS fluctuations of the mean-centered
    PROFILE around per-block linear fits at scales 5/10/15 — the
    long-range-dependence reading that, unlike ts_hurst_rs, is robust
    to nonstationarity in the mean (α ≈ 0.5 uncorrelated, >0.5
    persistent, ≈1 pink noise).

    Exactness: the profile never divides — y_t = n·cumsum − t·S is an
    exact scaled integer (DIV-means rule); per-block OLS residual
    sums use exact HUGEINT Σy²/Σiy with the literal Sxx =
    s(s²−1)/12; each block's RSS floors BEFORE the order-free
    per-scale sum; ln-F values and the 3-point log-log slope use
    SHARED ln-scale literals (the mean-reversion rule) in one double
    chain.

    Scale: the corpus-scale work is the daily rollup; profile,
    blocking (3× fan-out) and fits are calendar-bounded keyed
    windows/rollups."""
    ohlc = _daily_ohlc(spark, sf_dir)
    tot = ohlc.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c1").cast("bigint").alias("s_tot"),
    )
    w_rn = Window.partitionBy("event_type").orderBy("d")
    w_cum = w_rn.rowsBetween(Window.unboundedPreceding, 0)
    prof = (
        ohlc.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "n",
            F.row_number().over(w_rn).alias("rn"),
            (
                F.col("n") * F.sum("c1").over(w_cum)
                - F.row_number().over(w_rn) * F.col("s_tot")
            ).alias("y"),
        )
    )
    scales = spark.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in _DFA_SCALES])).alias("s")
    )
    blocks = (
        prof.crossJoin(F.broadcast(scales))
        .filter(F.col("rn") <= F.col("s") * F.expr("n DIV s"))
        .select(
            "event_type",
            "s",
            F.expr("(rn - 1) DIV s").alias("blk"),
            F.expr("rn - ((rn - 1) DIV s) * s").alias("i"),
            "y",
        )
    )
    d38 = "decimal(38,0)"
    fit = blocks.groupBy("event_type", "s", "blk").agg(
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
        F.sum(F.col("i").cast(d38) * F.col("y")).alias("siy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sxy_c = d("siy") - (F.col("s") + 1.0) / 2.0 * d("sy")
    sxx = F.col("s") * (d("s") * F.col("s") - 1.0) / 12.0
    rss = fit.select(
        "event_type",
        "s",
        F.floor(
            (d("syy") - d("sy") * F.col("sy") / F.col("s"))
            - sxy_c * sxy_c / sxx
        )
        .cast("bigint")
        .alias("rss_f"),
    )
    fs = rss.groupBy("event_type", "s").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum("rss_f").cast("bigint").alias("srss"),
    )
    lf = lambda s: F.max(  # noqa: E731
        F.when(
            F.col("s") == s,
            0.5
            * F.log(
                F.col("srss").cast("double") / (F.col("n_blocks") * s)
            ),
        )
    )
    piv = fs.groupBy("event_type").agg(
        lf(5).alias("lf5"), lf(10).alias("lf10"), lf(15).alias("lf15")
    )
    L = {s: float(_DFA_LN[s]) for s in _DFA_SCALES}
    lbar = (L[5] + L[10] + L[15]) / 3.0
    num = (
        F.lit(L[5] - lbar) * F.col("lf5")
        + F.lit(L[10] - lbar) * F.col("lf10")
        + F.lit(L[15] - lbar) * F.col("lf15")
    )
    den = sum((L[s] - lbar) ** 2 for s in _DFA_SCALES)
    return piv.select(
        "event_type",
        F.floor(F.col("lf5") * 10000).cast("bigint").alias("ln_f5_e4"),
        F.floor(F.col("lf10") * 10000).cast("bigint").alias("ln_f10_e4"),
        F.floor(F.col("lf15") * 10000).cast("bigint").alias("ln_f15_e4"),
        F.floor(num / F.lit(den) * 10000)
        .cast("bigint")
        .alias("dfa_alpha_e4"),
    ).orderBy("event_type")


_BETA_W = 10


@query(
    "ts_rolling_beta",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), x AS (
        SELECT d, c1 AS xv FROM ohlc WHERE event_type = 'view'
    ), y AS (
        SELECT d, c1 AS yv FROM ohlc WHERE event_type = 'click'
    ), joined AS (
        SELECT x.d, x.xv, y.yv,
               row_number() OVER (ORDER BY x.d) AS rn
        FROM x JOIN y USING (d)
    ), sums AS (
        SELECT d, rn,
               SUM(xv) OVER w AS sx, SUM(yv) OVER w AS sy,
               SUM(xv * xv) OVER w AS sxx,
               SUM(xv * yv) OVER w AS sxy,
               COUNT(*) OVER w AS m
        FROM joined
        WINDOW w AS (ORDER BY rn
                     ROWS BETWEEN {_BETA_W - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT d,
           CAST(m AS BIGINT) AS n_obs,
           CASE WHEN m * sxx - sx * sx > 0 THEN
               CAST(FLOOR(CAST(m * sxy - sx * sy AS DOUBLE)
                          / (m * sxx - sx * sx) * 1000000) AS BIGINT)
           END AS beta_e6
    FROM sums WHERE rn >= {_BETA_W}
    ORDER BY d
    """,
)
def ts_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 10-day regression beta of the click series on the view
    series over aligned daily closes (round 13): β = (mΣxy − ΣxΣy)/
    (mΣx² − (Σx)²) per trailing window — the time-varying exposure
    readout (ts_rolling_corr gives direction strength; beta gives the
    SLOPE a hedge or a capacity model needs).

    Exactness: the two tapes align on the date key; all window sums
    are exact e4-int products (x·y ≤ e8·e8 = safe); β is ONE floored
    double division of two exact integers; degenerate windows
    (zero x-variance) emit NULL.

    Scale: one date-keyed equi-join of two pre-reduced tapes + five
    same-frame windowed sums — the single-series global window is
    calendar-bounded (budgeted)."""
    ohlc = _daily_ohlc(spark, sf_dir)
    x = ohlc.filter(F.col("event_type") == "view").select(
        "d", F.col("c1").alias("xv")
    )
    y = ohlc.filter(F.col("event_type") == "click").select(
        F.col("d").alias("d_y"), F.col("c1").alias("yv")
    )
    joined = x.join(y, F.col("d") == F.col("d_y")).select("d", "xv", "yv")
    w_rn = Window.orderBy("d")
    joined = joined.withColumn("rn", F.row_number().over(w_rn))
    w = Window.orderBy("rn").rowsBetween(-(_BETA_W - 1), 0)
    sums = joined.select(
        "d",
        "rn",
        F.sum("xv").over(w).alias("sx"),
        F.sum("yv").over(w).alias("sy"),
        F.sum(F.col("xv") * F.col("xv")).over(w).alias("sxx"),
        F.sum(F.col("xv") * F.col("yv")).over(w).alias("sxy"),
        F.count("*").over(w).alias("m"),
    )
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        sums.filter(F.col("rn") >= _BETA_W)
        .select(
            "d",
            F.col("m").cast("bigint").alias("n_obs"),
            F.when(
                den > 0,
                F.floor(num.cast("double") / den * 1000000),
            )
            .cast("bigint")
            .alias("beta_e6"),
        )
        .orderBy("d")
    )


_BINENT_K = 10  # equi-width bins over the per-series value span


@query(
    "ts_entropy_binned",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), span AS (
        SELECT event_type, MIN(c1) AS lo, MAX(c1) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ohlc GROUP BY 1
    ), binned AS (
        SELECT o.event_type, s.n,
               LEAST(CAST((o.c1 - s.lo) * {_BINENT_K}
                          // (s.hi - s.lo + 1) AS BIGINT),
                     {_BINENT_K} - 1) AS b
        FROM ohlc o JOIN span s USING (event_type)
        WHERE s.hi > s.lo
    ), hist AS (
        SELECT event_type, n, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM binned GROUP BY 1, 2, 3
    ), terms AS (
        SELECT event_type, n,
               CAST(FLOOR(-1.0 * c * ln(CAST(c AS DOUBLE) / n)
                          * 1000000000 / n) AS BIGINT) AS term_e9
        FROM hist
    )
    SELECT event_type, MAX(n) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS bins_occupied,
           CAST(SUM(term_e9) AS BIGINT) AS entropy_e9
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def ts_entropy_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned value entropy per series (round 13, the tsfresh
    binned_entropy feature): Shannon entropy of the daily closes over
    10 equi-width bins spanning each series' own range — the VALUE-
    domain complexity reading next to ts_spectral_entropy (frequency)
    and ts_sample_entropy (temporal pattern); near 0 = the tape sits
    in one level, near ln 10 = levels spread evenly.

    Exactness: bin assignment is pure integer arithmetic
    ((v−lo)·K DIV (span+1), capped — no float binning); each −p·ln p
    term floors e9 before the order-free sum (Atkinson rule).
    Constant series (hi = lo) drop out by definition.

    Scale: keyed min/max rollup + a broadcast span join + keyed
    histogram — all calendar-bounded."""
    ohlc = _daily_ohlc(spark, sf_dir)
    span = ohlc.groupBy("event_type").agg(
        F.min("c1").alias("lo"),
        F.max("c1").alias("hi"),
        F.count("*").cast("bigint").alias("n"),
    )
    binned = (
        ohlc.join(F.broadcast(span), "event_type")
        .filter(F.col("hi") > F.col("lo"))
        .select(
            "event_type",
            "n",
            F.least(
                F.expr(
                    f"(c1 - lo) * {_BINENT_K} DIV (hi - lo + 1)"
                ),
                F.lit(_BINENT_K - 1).cast("bigint"),
            ).alias("b"),
        )
    )
    hist = binned.groupBy("event_type", "n", "b").agg(
        F.count("*").cast("bigint").alias("c")
    )
    terms = hist.select(
        "event_type",
        "n",
        F.floor(
            F.lit(-1.0)
            * F.col("c")
            * F.log(F.col("c").cast("double") / F.col("n"))
            * 1000000000
            / F.col("n")
        )
        .cast("bigint")
        .alias("term_e9"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            F.count("*").cast("bigint").alias("bins_occupied"),
            F.sum("term_e9").cast("bigint").alias("entropy_e9"),
        )
        .orderBy("event_type")
    )


_AMI_K = 8  # bins per axis for the (x_t, x_{t+1}) joint histogram


@query(
    "ts_ami_lag1",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), span AS (
        SELECT event_type, MIN(c1) AS lo, MAX(c1) AS hi
        FROM ohlc GROUP BY 1
    ), lagged AS (
        SELECT o.event_type, s.lo, s.hi, o.c1,
               lead(o.c1) OVER (PARTITION BY o.event_type
                                ORDER BY o.d) AS nxt
        FROM ohlc o JOIN span s USING (event_type)
        WHERE s.hi > s.lo
    ), pairs AS (
        SELECT event_type,
               LEAST(CAST((c1 - lo) * {_AMI_K}
                          // (hi - lo + 1) AS BIGINT),
                     {_AMI_K} - 1) AS bx,
               LEAST(CAST((nxt - lo) * {_AMI_K}
                          // (hi - lo + 1) AS BIGINT),
                     {_AMI_K} - 1) AS by
        FROM lagged WHERE nxt IS NOT NULL
    ), joint AS (
        SELECT event_type, bx, by, CAST(COUNT(*) AS BIGINT) AS c
        FROM pairs GROUP BY 1, 2, 3
    ), margx AS (
        SELECT event_type, bx, CAST(SUM(c) AS BIGINT) AS cx
        FROM joint GROUP BY 1, 2
    ), margy AS (
        SELECT event_type, by, CAST(SUM(c) AS BIGINT) AS cy
        FROM joint GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
        FROM joint GROUP BY 1
    ), terms AS (
        SELECT j.event_type,
               CAST(FLOOR(j.c * ln(CAST(j.c AS DOUBLE) * t.n
                                   / (CAST(x.cx AS DOUBLE) * y.cy))
                          * 1000000000 / t.n) AS BIGINT) AS term_e9
        FROM joint j
        JOIN margx x USING (event_type, bx)
        JOIN margy y USING (event_type, by)
        JOIN tot t USING (event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cells_occupied,
           CAST(SUM(term_e9) AS BIGINT) AS ami_e9
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def ts_ami_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average mutual information at lag 1 per series (round 13): MI
    of the (x_t, x_{t+1}) joint over an 8×8 equi-width binning — the
    NONLINEAR dependence reading where ts_acf sees only linear
    correlation (AMI's first minimum is the standard embedding-delay
    pick in nonlinear dynamics; here lag 1 screens "does tomorrow
    depend on today at all?").

    Exactness: bin assignment is pure integer arithmetic (the
    ts_entropy_binned rule); the last-row NULL lead filters out
    BEFORE any LEAST (DuckDB's LEAST skips NULLs where a binned NULL
    must stay NULL — caught at design time); each cell's
    c·ln(c·n/(cx·cy)) term floors e9 BEFORE the order-free sum.

    Scale: keyed span rollup + one lead + three cascaded keyed
    histograms over the calendar-bounded tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    span = ohlc.groupBy("event_type").agg(
        F.min("c1").alias("lo"), F.max("c1").alias("hi")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    binof = lambda col: F.least(  # noqa: E731
        F.expr(f"({col} - lo) * {_AMI_K} DIV (hi - lo + 1)"),
        F.lit(_AMI_K - 1).cast("bigint"),
    )
    pairs = (
        ohlc.withColumn("nxt", F.lead("c1").over(w))
        .join(F.broadcast(span), "event_type")
        .filter((F.col("hi") > F.col("lo")) & F.col("nxt").isNotNull())
        .select(
            "event_type",
            binof("c1").alias("bx"),
            binof("nxt").alias("by"),
        )
    )
    joint = pairs.groupBy("event_type", "bx", "by").agg(
        F.count("*").cast("bigint").alias("c")
    )
    margx = joint.groupBy("event_type", "bx").agg(
        F.sum("c").cast("bigint").alias("cx")
    )
    margy = joint.groupBy("event_type", "by").agg(
        F.sum("c").cast("bigint").alias("cy")
    )
    tot = joint.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    terms = (
        joint.join(margx, ["event_type", "bx"])
        .join(margy, ["event_type", "by"])
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.floor(
                F.col("c")
                * F.log(
                    F.col("c").cast("double")
                    * F.col("n")
                    / (F.col("cx").cast("double") * F.col("cy"))
                )
                * 1000000000
                / F.col("n")
            )
            .cast("bigint")
            .alias("term_e9"),
        )
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("cells_occupied"),
            F.sum("term_e9").cast("bigint").alias("ami_e9"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_min_variance_weights",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), x AS (
        SELECT d,
               c1 - lag(c1) OVER (ORDER BY d) AS dx
        FROM ohlc WHERE event_type = 'view'
    ), y AS (
        SELECT d,
               c1 - lag(c1) OVER (ORDER BY d) AS dy
        FROM ohlc WHERE event_type = 'click'
    ), joined AS (
        SELECT x.dx, y.dy FROM x JOIN y USING (d)
        WHERE x.dx IS NOT NULL AND y.dy IS NOT NULL
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dx) AS BIGINT) AS sx,
               CAST(SUM(dy) AS BIGINT) AS sy,
               SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
               SUM(CAST(dy AS HUGEINT) * dy) AS syy,
               SUM(CAST(dx AS HUGEINT) * dy) AS sxy
        FROM joined
    ), mom AS (
        SELECT n,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   / (n - 1.0) AS v1,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                   / (n - 1.0) AS v2,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                   / (n - 1.0) AS c12
        FROM s
    )
    SELECT n,
           CAST(FLOOR(v1 * 10000) AS BIGINT) AS var_view_e4,
           CAST(FLOOR(v2 * 10000) AS BIGINT) AS var_click_e4,
           CAST(FLOOR(c12 * 10000) AS BIGINT) AS cov_e4,
           CAST(FLOOR((v2 - c12) / (v1 + v2 - 2.0 * c12) * 1000000)
                AS BIGINT) AS w_view_e6,
           CAST(FLOOR((v1 * v2 - c12 * c12) / (v1 + v2 - 2.0 * c12)
                      * 10000) AS BIGINT) AS portfolio_var_e4
    FROM mom
    """,
)
def ts_min_variance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-variance two-asset weights over the view/click daily
    change series (round 13): w* = (σ₂² − σ₁₂)/(σ₁² + σ₂² − 2σ₁₂) —
    the closed-form Markowitz corner case, plus the achieved
    portfolio variance (σ₁²σ₂² − σ₁₂²)/(σ₁²+σ₂²−2σ₁₂); the
    diversification readout on top of ts_rolling_beta's exposure
    (beta says how they move together, this says how to mix them).

    Exactness: first differences and all cross-products are exact
    ints (HUGEINT squares/products) on date-aligned tapes; the
    variance/weight algebra is one shared double chain floored
    e4/e6.

    Scale: two keyed lags + one date-keyed join + one fold over the
    calendar-bounded tape (the global lag windows are budgeted
    pre-reduced shapes)."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.orderBy("d")
    x = (
        ohlc.filter(F.col("event_type") == "view")
        .select("d", (F.col("c1") - F.lag("c1").over(w)).alias("dx"))
        .filter(F.col("dx").isNotNull())
    )
    y = (
        ohlc.filter(F.col("event_type") == "click")
        .select(
            F.col("d").alias("d_y"),
            (F.col("c1") - F.lag("c1").over(w)).alias("dy"),
        )
        .filter(F.col("dy").isNotNull())
    )
    joined = x.join(y, F.col("d") == F.col("d_y")).select("dx", "dy")
    d38 = "decimal(38,0)"
    s = joined.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx").cast(d38) * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy").cast(d38) * F.col("dy")).alias("syy"),
        F.sum(F.col("dx").cast(d38) * F.col("dy")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n = F.col("n")
    v1 = (d("sxx") - d("sx") * F.col("sx") / n) / (n - 1.0)
    v2 = (d("syy") - d("sy") * F.col("sy") / n) / (n - 1.0)
    c12 = (d("sxy") - d("sx") * F.col("sy") / n) / (n - 1.0)
    return s.select(
        "n",
        F.floor(v1 * 10000).cast("bigint").alias("var_view_e4"),
        F.floor(v2 * 10000).cast("bigint").alias("var_click_e4"),
        F.floor(c12 * 10000).cast("bigint").alias("cov_e4"),
        F.floor((v2 - c12) / (v1 + v2 - 2.0 * c12) * 1000000)
        .cast("bigint")
        .alias("w_view_e6"),
        F.floor((v1 * v2 - c12 * c12) / (v1 + v2 - 2.0 * c12) * 10000)
        .cast("bigint")
        .alias("portfolio_var_e4"),
    )


@query(
    "ts_pivot_points",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), prev AS (
        SELECT event_type, d,
               lag(h1) OVER (PARTITION BY event_type ORDER BY d) AS ph,
               lag(l1) OVER (PARTITION BY event_type ORDER BY d) AS pl,
               lag(c1) OVER (PARTITION BY event_type ORDER BY d) AS pc,
               c1
        FROM ohlc
    )
    SELECT event_type, d,
           CAST((ph + pl + pc) // 3 AS BIGINT) AS pivot_e4,
           CAST(2 * ((ph + pl + pc) // 3) - pl AS BIGINT) AS r1_e4,
           CAST(2 * ((ph + pl + pc) // 3) - ph AS BIGINT) AS s1_e4,
           CAST((ph + pl + pc) // 3 + (ph - pl) AS BIGINT) AS r2_e4,
           CAST((ph + pl + pc) // 3 - (ph - pl) AS BIGINT) AS s2_e4,
           CASE WHEN c1 > 2 * ((ph + pl + pc) // 3) - pl THEN 1
                WHEN c1 < 2 * ((ph + pl + pc) // 3) - ph THEN -1
                ELSE 0 END AS break_flag
    FROM prev WHERE ph IS NOT NULL
    ORDER BY event_type, d
    """,
)
def ts_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot points per day (round 13): pivot =
    (H+L+C)/3 of the PREVIOUS day, R1/S1 = 2P∓(L,H), R2/S2 = P±range,
    plus a break flag for today's close beyond R1/S1 — the
    support/resistance lattice intraday desks quote; on this tape it
    reads as "did today's close escape yesterday's value area". ALL
    integer: the one /3 floors (// = DIV on positive candle ints) and
    every derived level is exact arithmetic on that floor.

    Scale: one keyed lag over the calendar-bounded tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    prev = ohlc.select(
        "event_type",
        "d",
        "c1",
        F.lag("h1").over(w).alias("ph"),
        F.lag("l1").over(w).alias("pl"),
        F.lag("c1").over(w).alias("pc"),
    ).filter(F.col("ph").isNotNull())
    piv = F.expr("(ph + pl + pc) DIV 3")
    return prev.select(
        "event_type",
        "d",
        piv.cast("bigint").alias("pivot_e4"),
        (2 * piv - F.col("pl")).cast("bigint").alias("r1_e4"),
        (2 * piv - F.col("ph")).cast("bigint").alias("s1_e4"),
        (piv + (F.col("ph") - F.col("pl"))).cast("bigint").alias("r2_e4"),
        (piv - (F.col("ph") - F.col("pl"))).cast("bigint").alias("s2_e4"),
        F.when(F.col("c1") > 2 * piv - F.col("pl"), F.lit(1))
        .when(F.col("c1") < 2 * piv - F.col("ph"), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("break_flag"),
    ).orderBy("event_type", "d")


_ICHI_CONV = 5   # conversion (tenkan) lookback, scaled to the 30-day tape
_ICHI_BASE = 15  # base (kijun) lookback


@query(
    "ts_ichimoku_lines",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), lines AS (
        SELECT event_type, d, c1,
               (MAX(h1) OVER wc + MIN(l1) OVER wc) // 2 AS conv,
               (MAX(h1) OVER wb + MIN(l1) OVER wb) // 2 AS base,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlc
        WINDOW wc AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN {_ICHI_CONV - 1} PRECEDING
                               AND CURRENT ROW),
               wb AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN {_ICHI_BASE - 1} PRECEDING
                               AND CURRENT ROW)
    )
    SELECT event_type, d,
           CAST(conv AS BIGINT) AS conversion_e4,
           CAST(base AS BIGINT) AS base_e4,
           CAST((conv + base) // 2 AS BIGINT) AS span_a_e4,
           CASE WHEN conv > base THEN 1
                WHEN conv < base THEN -1 ELSE 0 END AS tk_cross,
           CASE WHEN c1 > GREATEST(conv, base) THEN 1
                WHEN c1 < LEAST(conv, base) THEN -1
                ELSE 0 END AS price_position
    FROM lines WHERE rn >= {_ICHI_BASE}
    ORDER BY event_type, d
    """,
)
def ts_ichimoku_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku conversion/base lines per day (round 13, lookbacks
    5/15 scaled to the 30-day tape): each line is the MIDPOINT of the
    trailing high-low range (not a close average — range midpoints
    carry the candle information SMAs discard), span A their own
    midpoint, plus the TK-cross sign and the price-vs-lines position
    — the trend-filter lattice. ALL integer: range midpoints
    floor-halve positives (// = DIV), comparisons exact.

    Scale: two same-keyed windows + one rank over the
    calendar-bounded tape — one exchange."""
    ohlc = _daily_ohlc(spark, sf_dir)
    wc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(_ICHI_CONV - 1), 0)
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(_ICHI_BASE - 1), 0)
    )
    w_rn = Window.partitionBy("event_type").orderBy("d")
    lines = ohlc.select(
        "event_type",
        "d",
        "c1",
        F.expr(
            f"(max(h1) OVER (PARTITION BY event_type ORDER BY d"
            f" ROWS BETWEEN {_ICHI_CONV - 1} PRECEDING AND CURRENT ROW)"
            f" + min(l1) OVER (PARTITION BY event_type ORDER BY d"
            f" ROWS BETWEEN {_ICHI_CONV - 1} PRECEDING AND CURRENT ROW))"
            f" DIV 2"
        ).alias("conv"),
        F.expr(
            f"(max(h1) OVER (PARTITION BY event_type ORDER BY d"
            f" ROWS BETWEEN {_ICHI_BASE - 1} PRECEDING AND CURRENT ROW)"
            f" + min(l1) OVER (PARTITION BY event_type ORDER BY d"
            f" ROWS BETWEEN {_ICHI_BASE - 1} PRECEDING AND CURRENT ROW))"
            f" DIV 2"
        ).alias("base"),
        F.row_number().over(w_rn).alias("rn"),
    )
    return (
        lines.filter(F.col("rn") >= _ICHI_BASE)
        .select(
            "event_type",
            "d",
            F.col("conv").cast("bigint").alias("conversion_e4"),
            F.col("base").cast("bigint").alias("base_e4"),
            F.expr("(conv + base) DIV 2").cast("bigint").alias("span_a_e4"),
            F.when(F.col("conv") > F.col("base"), F.lit(1))
            .when(F.col("conv") < F.col("base"), F.lit(-1))
            .otherwise(F.lit(0))
            .alias("tk_cross"),
            F.when(
                F.col("c1") > F.greatest(F.col("conv"), F.col("base")),
                F.lit(1),
            )
            .when(
                F.col("c1") < F.least(F.col("conv"), F.col("base")),
                F.lit(-1),
            )
            .otherwise(F.lit(0))
            .alias("price_position"),
        )
        .orderBy("event_type", "d")
    )


@query(
    "ts_heikin_ashi",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), ordered AS (
        SELECT event_type,
               list(d ORDER BY d) AS ds,
               list((o1 + h1 + l1 + c1) // 4 ORDER BY d) AS hac,
               list(o1 ORDER BY d) AS os,
               list(c1 ORDER BY d) AS cs
        FROM ohlc GROUP BY 1
    )
    SELECT event_type,
           unnest(ds) AS d,
           unnest(list_transform(range(1, len(hac) + 1), t ->
               CAST(list_reduce(
                   list_prepend((os[1] + cs[1]) // 2, hac[1:t-1]),
                   (a, x) -> (a + x) // 2) AS BIGINT))) AS ha_open_e4,
           unnest(list_transform(range(1, len(hac) + 1), t ->
               CAST(hac[t] AS BIGINT))) AS ha_close_e4,
           unnest(list_transform(range(1, len(hac) + 1), t ->
               CASE WHEN hac[t] > list_reduce(
                        list_prepend((os[1] + cs[1]) // 2, hac[1:t-1]),
                        (a, x) -> (a + x) // 2) THEN 1
                    WHEN hac[t] < list_reduce(
                        list_prepend((os[1] + cs[1]) // 2, hac[1:t-1]),
                        (a, x) -> (a + x) // 2) THEN -1
                    ELSE 0 END)) AS ha_bull
    FROM ordered ORDER BY event_type, d
    """,
)
def ts_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi candle transform per day (round 13), in FLOORED
    INTEGER semantics: HA-close = (O+H+L+C) DIV 4, HA-open =
    (prev HA-open + prev HA-close) DIV 2 seeded with (O₁+C₁) DIV 2 —
    the noise-averaged candles whose bull/bear runs read trend far
    cleaner than raw closes (the visual complement to
    ts_sma_crossover_census). The recursion is the ts_macd prefix-fold
    discipline on INTEGERS: Spark F.aggregate and DuckDB list_reduce
    (seed prepended — list_reduce has no init) walk identical integer
    DIV chains, so every candle is exact, not just reproducible.

    Scale: calendar-bounded per-key prefix folds over the tape; the
    streaming form carries one integer of state."""
    ohlc = _daily_ohlc(spark, sf_dir)
    g = ohlc.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct("d", "o1", "h1", "l1", "c1"))
        ).alias("rows")
    )
    g = g.select(
        "event_type",
        F.transform("rows", lambda r: r["d"]).alias("ds"),
        F.transform(
            "rows",
            lambda r: (r["o1"] + r["h1"] + r["l1"] + r["c1"]) / F.lit(4),
        ).alias("hac_raw"),
        F.transform("rows", lambda r: r["o1"]).alias("os"),
        F.transform("rows", lambda r: r["c1"]).alias("cs"),
    )
    # integer DIV 4 (the / above would be double) — redo exactly:
    g = g.withColumn(
        "hac",
        F.expr(
            "transform(hac_raw, x -> CAST(floor(x) AS BIGINT))"
        ),
    )
    seed = F.expr("(os[0] + cs[0]) DIV 2")
    def hao(t):
        return F.aggregate(
            F.slice("hac", F.lit(1), t - 1),
            seed.cast("bigint"),
            # (a+x)/2 is an exact double for candle-scale ints and the
            # bigint cast truncates = floors on positives — DIV 2 parity
            lambda a, x: ((a + x) / 2).cast("bigint"),
        )
    items = F.transform(
        F.sequence(F.lit(1), F.size("hac")),
        lambda t: F.struct(
            F.element_at("ds", t).alias("d"),
            hao(t).alias("ha_open_e4"),
            F.element_at("hac", t).alias("ha_close_e4"),
            F.when(F.element_at("hac", t) > hao(t), F.lit(1))
            .when(F.element_at("hac", t) < hao(t), F.lit(-1))
            .otherwise(F.lit(0))
            .alias("ha_bull"),
        ),
    )
    return (
        g.select("event_type", F.explode(items).alias("it"))
        .select(
            "event_type",
            F.col("it.d").alias("d"),
            F.col("it.ha_open_e4").cast("bigint").alias("ha_open_e4"),
            F.col("it.ha_close_e4").cast("bigint").alias("ha_close_e4"),
            F.col("it.ha_bull").alias("ha_bull"),
        )
        .orderBy("event_type", "d")
    )


_ADX_A = "0.1"  # Wilder 1/W at W=10 — shared literal (ts_atr_wilder's)


@query(
    "ts_adx",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), steps AS (
        SELECT event_type, d, h1, l1,
               lag(h1) OVER (PARTITION BY event_type ORDER BY d) AS ph,
               lag(l1) OVER (PARTITION BY event_type ORDER BY d) AS pl,
               lag(c1) OVER (PARTITION BY event_type ORDER BY d) AS pc
        FROM ohlc
    ), dm AS (
        SELECT event_type, d,
               CAST(CASE WHEN h1 - ph > pl - l1 AND h1 - ph > 0
                         THEN h1 - ph ELSE 0 END AS DOUBLE) AS pdm,
               CAST(CASE WHEN pl - l1 > h1 - ph AND pl - l1 > 0
                         THEN pl - l1 ELSE 0 END AS DOUBLE) AS mdm,
               CAST(GREATEST(h1 - l1, ABS(h1 - pc), ABS(l1 - pc))
                    AS DOUBLE) AS tr
        FROM steps WHERE ph IS NOT NULL
    ), ordered AS (
        SELECT event_type,
               list(d ORDER BY d) AS ds,
               list(pdm ORDER BY d) AS pdms,
               list(mdm ORDER BY d) AS mdms,
               list(tr ORDER BY d) AS trs
        FROM dm GROUP BY 1
    ), dx AS (
        SELECT event_type, ds,
               list_transform(range(1, len(pdms) + 1), t ->
                   CASE WHEN list_reduce(pdms[1:t],
                                 (a, x) -> a + {_ADX_A} * (x - a))
                             + list_reduce(mdms[1:t],
                                 (a, x) -> a + {_ADX_A} * (x - a)) > 0
                        THEN 10000.0
                             * ABS(list_reduce(pdms[1:t],
                                   (a, x) -> a + {_ADX_A} * (x - a))
                                 - list_reduce(mdms[1:t],
                                   (a, x) -> a + {_ADX_A} * (x - a)))
                             / (list_reduce(pdms[1:t],
                                   (a, x) -> a + {_ADX_A} * (x - a))
                                + list_reduce(mdms[1:t],
                                   (a, x) -> a + {_ADX_A} * (x - a)))
                        ELSE 0.0 END) AS dxs,
               list_transform(range(1, len(pdms) + 1), t ->
                   CASE WHEN list_reduce(trs[1:t],
                                 (a, x) -> a + {_ADX_A} * (x - a)) > 0
                        THEN CAST(FLOOR(10000.0
                             * list_reduce(pdms[1:t],
                                   (a, x) -> a + {_ADX_A} * (x - a))
                             / list_reduce(trs[1:t],
                                   (a, x) -> a + {_ADX_A} * (x - a)))
                             AS BIGINT) END) AS dips,
               list_transform(range(1, len(pdms) + 1), t ->
                   CASE WHEN list_reduce(trs[1:t],
                                 (a, x) -> a + {_ADX_A} * (x - a)) > 0
                        THEN CAST(FLOOR(10000.0
                             * list_reduce(mdms[1:t],
                                   (a, x) -> a + {_ADX_A} * (x - a))
                             / list_reduce(trs[1:t],
                                   (a, x) -> a + {_ADX_A} * (x - a)))
                             AS BIGINT) END) AS dims
        FROM ordered
    )
    SELECT event_type,
           unnest(ds) AS d,
           unnest(dips) AS di_plus_e2,
           unnest(dims) AS di_minus_e2,
           unnest(list_transform(range(1, len(dxs) + 1), t ->
               CAST(FLOOR(dxs[t]) AS BIGINT))) AS dx_e2,
           unnest(list_transform(range(1, len(dxs) + 1), t ->
               CAST(FLOOR(list_reduce(dxs[1:t],
                   (a, x) -> a + {_ADX_A} * (x - a))) AS BIGINT)))
               AS adx_e2
    FROM dx ORDER BY event_type, d
    """,
)
def ts_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Directional Index per day (round 13): Wilder-smoothed
    +DM/−DM over smoothed TR give DI+/DI−, their normalized gap is
    DX, and ADX is the Wilder smooth OF the DX series — the standard
    "is there a trend at all" filter gating every directional signal
    in the candle family (completes TA: ATR measures range, vortex
    rotation, ADX trendedness).

    Exactness: DM/TR cells are exact ints cast to double once; every
    smooth is the ordered prefix-fold discipline (F.aggregate ≡
    list_reduce, shared α literal) — including the SECOND-ORDER fold
    over the DX array, whose elements are themselves identical double
    chains in both engines; DI/DX/ADX floor e2 at output only.

    Scale: calendar-bounded per-key prefix folds (the O(days²) inner
    folds are the ts_macd posture; streaming form carries four
    doubles of state)."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    steps = ohlc.select(
        "event_type",
        "d",
        "h1",
        "l1",
        F.lag("h1").over(w).alias("ph"),
        F.lag("l1").over(w).alias("pl"),
        F.lag("c1").over(w).alias("pc"),
    ).filter(F.col("ph").isNotNull())
    up = F.col("h1") - F.col("ph")
    dn = F.col("pl") - F.col("l1")
    dm = steps.select(
        "event_type",
        "d",
        F.when((up > dn) & (up > 0), up)
        .otherwise(F.lit(0))
        .cast("double")
        .alias("pdm"),
        F.when((dn > up) & (dn > 0), dn)
        .otherwise(F.lit(0))
        .cast("double")
        .alias("mdm"),
        F.greatest(
            F.col("h1") - F.col("l1"),
            F.abs(F.col("h1") - F.col("pc")),
            F.abs(F.col("l1") - F.col("pc")),
        )
        .cast("double")
        .alias("tr"),
    )
    g = dm.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct("d", "pdm", "mdm", "tr"))
        ).alias("rows")
    )
    g = g.select(
        "event_type",
        F.transform("rows", lambda r: r["d"]).alias("ds"),
        F.transform("rows", lambda r: r["pdm"]).alias("pdms"),
        F.transform("rows", lambda r: r["mdm"]).alias("mdms"),
        F.transform("rows", lambda r: r["tr"]).alias("trs"),
    )
    sm = lambda lst, t: _ema_prefix(lst, t, _ADX_A)  # noqa: E731
    dx_of = lambda t: F.when(  # noqa: E731
        sm(F.col("pdms"), t) + sm(F.col("mdms"), t) > 0,
        10000.0
        * F.abs(sm(F.col("pdms"), t) - sm(F.col("mdms"), t))
        / (sm(F.col("pdms"), t) + sm(F.col("mdms"), t)),
    ).otherwise(F.lit(0.0))
    g = g.withColumn(
        "dxs", F.transform(F.sequence(F.lit(1), F.size("pdms")), dx_of)
    )
    di = lambda lst, t: F.when(  # noqa: E731
        sm(F.col("trs"), t) > 0,
        F.floor(10000.0 * sm(lst, t) / sm(F.col("trs"), t)).cast("bigint"),
    )
    items = F.transform(
        F.sequence(F.lit(1), F.size("pdms")),
        lambda t: F.struct(
            F.element_at("ds", t).alias("d"),
            di(F.col("pdms"), t).alias("di_plus_e2"),
            di(F.col("mdms"), t).alias("di_minus_e2"),
            F.floor(F.element_at("dxs", t)).cast("bigint").alias("dx_e2"),
            F.floor(_ema_prefix(F.col("dxs"), t, _ADX_A))
            .cast("bigint")
            .alias("adx_e2"),
        ),
    )
    return (
        g.select("event_type", F.explode(items).alias("it"))
        .select(
            "event_type",
            F.col("it.d").alias("d"),
            F.col("it.di_plus_e2").alias("di_plus_e2"),
            F.col("it.di_minus_e2").alias("di_minus_e2"),
            F.col("it.dx_e2").alias("dx_e2"),
            F.col("it.adx_e2").alias("adx_e2"),
        )
        .orderBy("event_type", "d")
    )


@query(
    "ts_recurrence_quantification",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), rk AS (
        SELECT event_type, c1,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlc
    ), span AS (
        SELECT event_type, (MAX(c1) - MIN(c1)) // 10 AS eps,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM rk GROUP BY 1
    ), rec AS (
        SELECT a.event_type, a.rn AS i, b.rn AS j
        FROM rk a
        JOIN rk b ON b.event_type = a.event_type AND b.rn > a.rn
        JOIN span s ON s.event_type = a.event_type
        WHERE ABS(a.c1 - b.c1) <= s.eps
    ), diag AS (
        SELECT r.event_type, CAST(COUNT(*) AS BIGINT) AS det_pairs
        FROM rec r JOIN rec r2
          ON r2.event_type = r.event_type
         AND r2.i = r.i + 1 AND r2.j = r.j + 1
        GROUP BY 1
    ), counts AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS rec_pairs
        FROM rec GROUP BY 1
    )
    SELECT s.event_type, s.n,
           COALESCE(c.rec_pairs, 0) AS rec_pairs,
           CAST(COALESCE(c.rec_pairs, 0) * 1000000
                // (s.n * (s.n - 1) // 2) AS BIGINT) AS rr_e6,
           COALESCE(d.det_pairs, 0) AS det_pairs,
           CASE WHEN COALESCE(c.rec_pairs, 0) > 0 THEN
               CAST(COALESCE(d.det_pairs, 0) * 1000000
                    // c.rec_pairs AS BIGINT) END AS det_e6
    FROM span s
    LEFT JOIN counts c USING (event_type)
    LEFT JOIN diag d USING (event_type)
    ORDER BY s.event_type
    """,
)
def ts_recurrence_quantification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recurrence quantification per series (round 13): recurrence
    rate RR = share of day pairs whose closes sit within ε = 10% of
    the series range, and a determinism proxy DET = share of
    recurrent pairs whose DIAGONAL successor (i+1, j+1) also recurs —
    the recurrence-plot pair (Marwan's RQA) that separates "revisits
    levels randomly" (high RR, low DET) from "repeats whole motifs"
    (high DET); the phase-space companion to ts_sample_entropy.
    PURE integer end-to-end (integer ε, pair counts, e6
    floor-divisions of non-negatives).

    Scale: the pair stage is a band self-join on the PRE-REDUCED
    calendar-bounded tape (C(days,2) per series — bounded by the
    calendar, never the corpus); at production day-counts the
    standard move is windowed RQA (pairs within a trailing window),
    the same shape bounded further."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    rk = ohlc.select(
        "event_type", "c1", F.row_number().over(w).alias("rn")
    )
    span = rk.groupBy("event_type").agg(
        F.expr("(MAX(c1) - MIN(c1)) DIV 10").alias("eps"),
        F.count("*").cast("bigint").alias("n"),
    )
    b = rk.select(
        F.col("event_type").alias("t2"),
        F.col("c1").alias("c2"),
        F.col("rn").alias("rn2"),
    )
    rec = (
        rk.join(
            b,
            (F.col("t2") == F.col("event_type"))
            & (F.col("rn2") > F.col("rn")),
        )
        .join(F.broadcast(span), "event_type")
        .filter(F.abs(F.col("c1") - F.col("c2")) <= F.col("eps"))
        .select("event_type", F.col("rn").alias("i"), F.col("rn2").alias("j"))
    )
    r2 = rec.select(
        F.col("event_type").alias("t3"),
        F.col("i").alias("i2"),
        F.col("j").alias("j2"),
    )
    diag = (
        rec.join(
            r2,
            (F.col("t3") == F.col("event_type"))
            & (F.col("i2") == F.col("i") + 1)
            & (F.col("j2") == F.col("j") + 1),
        )
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("det_pairs"))
    )
    counts = rec.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("rec_pairs")
    )
    out = (
        span.join(counts, "event_type", "left")
        .join(diag, "event_type", "left")
        .select(
            "event_type",
            "n",
            F.coalesce(F.col("rec_pairs"), F.lit(0)).alias("rec_pairs"),
            F.expr(
                "CAST(COALESCE(rec_pairs, 0) * 1000000"
                " DIV (n * (n - 1) DIV 2) AS BIGINT)"
            ).alias("rr_e6"),
            F.coalesce(F.col("det_pairs"), F.lit(0)).alias("det_pairs"),
            F.when(
                F.coalesce(F.col("rec_pairs"), F.lit(0)) > 0,
                F.expr(
                    "CAST(COALESCE(det_pairs, 0) * 1000000"
                    " DIV rec_pairs AS BIGINT)"
                ),
            ).alias("det_e6"),
        )
        .orderBy("event_type")
    )
    return out


_CHOP_W = 10
_CHOP_LOG10W = "1.0"  # log10(10) — exact shared literal


@query(
    "ts_choppiness_index",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), steps AS (
        SELECT event_type, d, h1, l1,
               GREATEST(h1 - l1,
                        ABS(h1 - lag(c1) OVER (PARTITION BY event_type
                                               ORDER BY d)),
                        ABS(l1 - lag(c1) OVER (PARTITION BY event_type
                                               ORDER BY d))) AS tr,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                   AS rn
        FROM ohlc
    ), sums AS (
        SELECT event_type, d, rn,
               SUM(tr) OVER w AS str,
               MAX(h1) OVER w AS hh,
               MIN(l1) OVER w AS ll
        FROM steps
        WINDOW w AS (PARTITION BY event_type ORDER BY rn
                     ROWS BETWEEN {_CHOP_W - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT event_type, d,
           CASE WHEN hh > ll AND str > 0 THEN
               CAST(FLOOR(100.0
                          * ln(CAST(str AS DOUBLE) / (hh - ll))
                          / ln(10.0) / {_CHOP_LOG10W} * 100) AS BIGINT)
           END AS chop_e2
    FROM sums WHERE rn > {_CHOP_W}
    ORDER BY event_type, d
    """,
)
def ts_choppiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHOPPINESS index over the daily candle tape (round 13): 100·
    log₁₀(ΣTR_W/(maxH−minL))/log₁₀(W) — near 100 when the 10-day true
    ranges sum to far more than the net envelope (pure chop), near 0
    when every bar extends the move (trend); the log-scaled sibling
    of ts_kaufman_efficiency (which is the linear ratio) and the
    third leg of the trendedness triad with ts_adx.

    Exactness: TR/envelope cells are exact ints; one shared
    ln-ratio/ln(10) double chain floored e2 (log₁₀(W)=1 at W=10 —
    exact literal); degenerate windows NULL.

    Scale: one keyed lag + three same-frame windows over the
    calendar-bounded tape."""
    ohlc = _daily_ohlc(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    steps = ohlc.select(
        "event_type",
        "d",
        "h1",
        "l1",
        F.greatest(
            F.col("h1") - F.col("l1"),
            F.abs(F.col("h1") - F.lag("c1").over(w)),
            F.abs(F.col("l1") - F.lag("c1").over(w)),
        ).alias("tr"),
        F.row_number().over(w).alias("rn"),
    )
    w_sum = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(-(_CHOP_W - 1), 0)
    )
    sums = steps.select(
        "event_type",
        "d",
        "rn",
        F.sum("tr").over(w_sum).alias("str"),
        F.max("h1").over(w_sum).alias("hh"),
        F.min("l1").over(w_sum).alias("ll"),
    )
    chop = (
        100.0
        * F.log(F.col("str").cast("double") / (F.col("hh") - F.col("ll")))
        / F.log(F.lit(10.0))
        / F.lit(float(_CHOP_LOG10W))
    )
    return (
        sums.filter(F.col("rn") > _CHOP_W)
        .select(
            "event_type",
            "d",
            F.when(
                (F.col("hh") > F.col("ll")) & (F.col("str") > 0),
                F.floor(chop * 100),
            )
            .cast("bigint")
            .alias("chop_e2"),
        )
        .orderBy("event_type", "d")
    )


_ELDER_A = "0.14285714285714285"  # 2/(13+1) — EMA13, shared literal


@query(
    "ts_elder_ray",
    f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), ordered AS (
        SELECT event_type,
               list(d ORDER BY d) AS ds,
               list(CAST(c1 AS DOUBLE) ORDER BY d) AS cs,
               list(h1 ORDER BY d) AS hs,
               list(l1 ORDER BY d) AS ls
        FROM ohlc GROUP BY 1
    )
    SELECT event_type,
           unnest(ds) AS d,
           unnest(list_transform(range(1, len(cs) + 1), t ->
               CAST(FLOOR(hs[t] - list_reduce(cs[1:t],
                   (a, x) -> a + {_ELDER_A} * (x - a))) AS BIGINT)))
               AS bull_power_e4,
           unnest(list_transform(range(1, len(cs) + 1), t ->
               CAST(FLOOR(ls[t] - list_reduce(cs[1:t],
                   (a, x) -> a + {_ELDER_A} * (x - a))) AS BIGINT)))
               AS bear_power_e4
    FROM ordered ORDER BY event_type, d
    """,
)
def ts_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder-ray bull/bear power per day (round 13): high minus the
    EMA13 of closes (can buyers push above consensus value?) and low
    minus the same EMA (can sellers pull below it?) — the
    strength-attribution split behind ts_force_index's single signed
    number. EMA13 seeds with the first close (ts_ewma convention).

    Exactness: the EMA is the ordered prefix-fold discipline
    (shared-literal α = 2/14); H/L are exact ints; each power floors
    e4 per day.

    Scale: the ts_macd posture — calendar-bounded per-key prefix
    folds."""
    ohlc = _daily_ohlc(spark, sf_dir)
    g = ohlc.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct("d", "h1", "l1", "c1"))
        ).alias("rows")
    )
    g = g.select(
        "event_type",
        F.transform("rows", lambda r: r["d"]).alias("ds"),
        F.transform("rows", lambda r: r["c1"].cast("double")).alias("cs"),
        F.transform("rows", lambda r: r["h1"]).alias("hs"),
        F.transform("rows", lambda r: r["l1"]).alias("ls"),
    )
    items = F.transform(
        F.sequence(F.lit(1), F.size("cs")),
        lambda t: F.struct(
            F.element_at("ds", t).alias("d"),
            F.floor(
                F.element_at("hs", t) - _ema_prefix(F.col("cs"), t, _ELDER_A)
            )
            .cast("bigint")
            .alias("bull_power_e4"),
            F.floor(
                F.element_at("ls", t) - _ema_prefix(F.col("cs"), t, _ELDER_A)
            )
            .cast("bigint")
            .alias("bear_power_e4"),
        ),
    )
    return (
        g.select("event_type", F.explode(items).alias("it"))
        .select(
            "event_type",
            F.col("it.d").alias("d"),
            F.col("it.bull_power_e4").alias("bull_power_e4"),
            F.col("it.bear_power_e4").alias("bear_power_e4"),
        )
        .orderBy("event_type", "d")
    )
