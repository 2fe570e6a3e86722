"""SURVEY §2.9 — Structured Streaming over the `events` table.

The reference's daemon mode — poll the chain tip, ingest each new block
exactly once, survive restarts — IS micro-batch streaming
(SURVEY §3.2-2): source offsets replace the hand-rolled "last height"
bookkeeping, checkpoints replace its restart logic, and idempotent
sinks replace Cassandra upsert.

Registered queries run REAL streaming (file source → availableNow →
memory sink) and their final state hash-matches a batch SQL oracle —
the batch-equivalence strategy of SURVEY §5.2. Multi-micro-batch and
late-data scenarios that need finer control live in
tests/test_streaming.py.

Scale notes:
- State stores (windowed aggs, dedup, sessions) are partitioned by
  group key across executors; watermarks bound state size — an
  unwatermarked streaming agg on an unbounded key space is the one
  unscalable shape, and every stateful query here carries a watermark
  except the bounded-cardinality complete-mode demos.
- availableNow = the reference's bulk/full-sync entry point;
  continuous micro-batches = its daemon loop. Same code path.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.schemas import EVENTS_RAW, EVENTS_US
from graphsense_datafeed_spark.session import ensure_runtime_confs
from graphsense_datafeed_spark.sources.tables import (
    events_ts_unit,
    load,
    normalize_events_ts,
    path_for,
)


def _events_stream_dir(sf_dir: str) -> str:
    """The file stream source needs a DIRECTORY; stage one containing a
    symlink to the fixture file (no copy, read-only source untouched)."""
    d = os.path.join(
        tempfile.gettempdir(), "gds_stream_src", os.path.basename(sf_dir.rstrip("/"))
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture with the same
    unit-adaptive ts normalization as the batch loader (one file → one
    micro-batch under availableNow; tests split the file to force
    multi-batch runs). The unit probe runs on the batch source file —
    readStream cannot infer, and the staged dir symlinks that file.

    Also derives the SCALE-ADAPTIVE state-partition count from the
    measured source size and stashes it on the session (see
    stream_state_partitions) — the one place every stream's input size
    is known, so run_stream_to_memory's 16 call sites stay unchanged."""
    ensure_runtime_confs(spark)
    src = path_for(sf_dir, "events")
    unit = events_ts_unit(spark, src)
    spark.conf.set(
        "gds.stream.statePartitions",
        str(stream_state_partitions(spark, src)),
    )
    schema = EVENTS_RAW if unit == "ns" else EVENTS_US
    raw = spark.readStream.schema(schema).parquet(_events_stream_dir(sf_dir))
    return normalize_events_ts(raw, unit)


_STREAM_STATE_PARTITIONS = 8  # local floor (r15 measured optimum at fixture SFs)


def stream_state_partitions(spark: SparkSession, src_path: str) -> int:
    """Scale-adaptive state-store partition count (guide §2.2;
    VERDICT r15 #7 — derive, don't pin).  Streaming micro-batch plans
    get no AQE coalescing and the state partition count is FROZEN into
    the checkpoint at first run, so it must be sized from the measured
    input up front: target ~64 MB of source bytes per state partition,
    floored at the local optimum (8 — measured r12: 0.89 s vs 1.5-7 s
    per run at sf0.1 against the batch default) and capped by the
    session's shuffle-partition conf, which is the production
    parallelism knob (at deployment scale that conf is sized to the
    cluster, so a 100 TB feed lands on cluster parallelism while every
    fixture SF keeps the measured local count — the label_propagate
    scale-adaptive precedent).  A directory source (multi-file
    parquet) counts the bytes of every member file."""
    try:
        if os.path.isdir(src_path):
            size = sum(
                os.path.getsize(os.path.join(root, name))
                for root, _dirs, files in os.walk(src_path)
                for name in files
            )
        else:
            size = os.path.getsize(src_path)
    except OSError:
        size = 0
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 — conf unreadable on exotic builds
        cap = 200
    derived = -(-size // (64 * 1024 * 1024))  # ceil(bytes / 64 MB)
    return max(_STREAM_STATE_PARTITIONS, min(cap, derived))


def run_stream_to_memory(
    spark: SparkSession, sdf: DataFrame, output_mode: str
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into
    a memory sink and return the final result as a batch DataFrame.

    Streaming aggregations materialize one state store PER shuffle
    partition PER micro-batch, and micro-batch plans get no AQE
    coalescing — at the batch default (32 here, 200 upstream) that is
    pure fixed overhead when the state key space is small (hours ×
    event types). The stream runs with a right-sized partition count
    instead (measured 0.89s vs 1.5-7s per run at sf0.1); the state
    partition count is also FROZEN into the checkpoint at first run,
    which is why production sizes it to expected key cardinality ×
    executor count up front rather than inheriting the batch default.
    The batch setting is restored afterwards — streaming queries here
    run to completion, never concurrently with a batch plan."""
    name = "s" + uuid.uuid4().hex[:12]
    ckpt = os.path.join(tempfile.gettempdir(), "gds_ckpt", name)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    # size-derived count stashed by read_events_stream; the constant
    # floor covers streams built from other sources (rate/test frames)
    n_state = spark.conf.get(
        "gds.stream.statePartitions", str(_STREAM_STATE_PARTITIONS)
    )
    spark.conf.set("spark.sql.shuffle.partitions", n_state)
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    result = spark.table(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return result


@query(
    "stream_tumbling",
    """
    SELECT date_trunc('hour', ts) AS win_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS val_floor_sum
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows × event_type, executed as a real stream;
    final state ≡ the batch GROUP BY (oracle)."""
    s = read_events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor("value").cast("bigint")).cast("bigint").alias("val_floor_sum"),
    )
    out = run_stream_to_memory(spark, agg, "complete")
    return out.select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "event_type",
        "n_events",
        "val_floor_sum",
    )


@query(
    "stream_sliding",
    """
    SELECT time_bucket(INTERVAL 15 MINUTES, ts) - k * INTERVAL 15 MINUTES
               AS win_start,
           COUNT(*) AS n_events
    FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS slides(k)
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15min windows: each event lands in 4 overlapping
    windows (oracle: explicit 4-slide expansion)."""
    s = read_events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour", "15 minutes")).agg(
        F.count("*").alias("n_events")
    )
    out = run_stream_to_memory(spark, agg, "complete")
    return out.select(F.col("window.start").alias("win_start"), "n_events")


@query(
    "stream_session",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTES AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user via the native
    ``session_window`` operator; oracle is the classic gaps-and-islands
    sessionization SQL. (Batch execution of the same operator the
    streaming path uses; the watermarked streaming variant is asserted
    equal in tests/test_streaming.py.)"""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "stream_dedup",
    "SELECT event_id, user_id, event_type, ts FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once by event_id over a deliberately duplicated stream
    (self-union = the reference's re-fetch/reorg re-ingest), state
    bounded by watermark. Final output ≡ the distinct batch oracle."""
    s = read_events_stream(spark, sf_dir)
    dup = s.union(s)
    # Watermarks require TIMESTAMP (not NTZ); under the pinned UTC
    # session tz the LTZ↔NTZ casts are the identity.
    dedup = (
        dup.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select(
            "event_id", "user_id", "event_type", F.col("ts").cast("timestamp_ntz").alias("ts")
        )
    )
    return run_stream_to_memory(spark, dedup, "append")


@query(
    "stream_static_join",
    """
    SELECT event_id, user_id, value, c_name, c_mktsegment
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream⋈static enrichment ([REF] block ⋈ exchange_rates): the
    static dim joins per micro-batch with the planner choosing
    broadcast vs shuffle by its size (customer SCALES — no hint), no
    streaming state."""
    s = read_events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer")
    joined = s.join(
        cust, s.user_id == cust.c_custkey
    ).select("event_id", "user_id", "value", "c_name", "c_mktsegment")
    return run_stream_to_memory(spark, joined, "append")


@query(
    "stream_watermark",
    """
    SELECT date_trunc('hour', ts) AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY date_trunc('hour', ts)
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
           <= (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 10 MINUTE
               FROM events)
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling agg in APPEND mode: only windows closed by
    the final watermark are emitted. Under availableNow over a fixed
    file set this IS deterministic — the final watermark is
    max(ts) - 10 min and append emits exactly the windows whose end it
    passed (Spark's no-data final micro-batch flushes them), so the
    oracle is the batch agg HAVING win_end ≤ that watermark (round-3
    upgrade from rows-only). The oracle truncates max(ts) to
    MILLISECONDS first because Spark tracks event-time stats (and thus
    the watermark) at ms precision — a window ending inside the
    sub-millisecond gap would otherwise flip membership between
    engines. The multi-batch drop-late-data behavior —
    where watermark PROGRESSION matters — is pinned down in
    tests/test_streaming.py with a crafted two-batch file sequence."""
    s = read_events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")  # watermark needs LTZ
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_events"))
    )
    out = run_stream_to_memory(spark, agg, "append")
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("win_start"), "n_events"
    )


@query(
    "source_rate_stream",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def source_rate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental tailing source — the daemon's chain-tip poll loop:
    the fixture is re-laid as many small files (≈ blocks arriving) and
    tailed with maxFilesPerTrigger=1, so the count aggregates across
    many micro-batches exactly once. The complete-mode final state is
    therefore the plain batch group-by — an EXACT oracle (round-3
    upgrade from rows-only): if the tail ever dropped or double-read a
    file, the counts would hash-mismatch."""
    ensure_runtime_confs(spark)
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    # fingerprint-keyed staging: a regenerated fixture re-stages
    # instead of serving stale rows against the fresh oracle
    tail_dir = staged_source_dir(sf_dir, "gds_tail_v2", "events")
    if not os.path.exists(tail_dir):
        # stage → atomic rename: a crashed half-write must never leave
        # a readable-but-partial tail dir for later runs
        stage = tail_dir + ".stage." + uuid.uuid4().hex[:8]
        load(spark, sf_dir, "events").repartitionByRange(8, "event_id").write.mode(
            "overwrite"
        ).parquet(stage)
        try:
            os.rename(stage, tail_dir)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)  # lost the race — fine
    s = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp_ntz, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(tail_dir)
    )
    agg = s.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return run_stream_to_memory(spark, agg, "complete")


@query(
    "stream_foreachbatch",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daemon's write loop: per-micro-batch idempotent sink via
    foreachBatch (the seam where the Cassandra writer plugs in —
    sinks.CassandraSink). Each batch lands exactly once keyed by
    batch_id; the re-read union ≡ the source (oracle)."""
    ensure_runtime_confs(spark)
    out_dir = os.path.join(
        tempfile.gettempdir(),
        "gds_febatch",
        os.path.basename(sf_dir.rstrip("/")),
        uuid.uuid4().hex[:8],
    )

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent: overwrite THIS batch's partition (re-running a
        # batch after restart replaces, never duplicates — the C*
        # upsert analogy).
        batch_df.select("event_id", "user_id", "event_type", "value").write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"batch={batch_id}"))

    s = read_events_stream(spark, sf_dir)
    name = "s" + uuid.uuid4().hex[:12]
    ckpt = os.path.join(tempfile.gettempdir(), "gds_ckpt", name)
    q = (
        s.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(os.path.join(out_dir, "batch=*"))


@query(
    "stream_stream_join",
    """
    SELECT c.user_id,
           c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a click by the
    same user within the preceding hour — the missing sibling of
    ``stream_static_join`` (two live sides, not stream × dim).

    Both sides carry a watermark and the join condition carries the
    time-range bound, so the state store evicts rows older than
    watermark + range instead of buffering both streams forever —
    THE requirement for an unbounded 100 TB/day click/purchase join.
    Batch-equivalence oracle: the identical join as ANSI SQL (exact
    hash)."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            # watermark needs LTZ; cast back to ntz on output
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").cast("timestamp").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id
            AND purchase_ts >= click_ts
            AND purchase_ts < click_ts + INTERVAL 1 HOUR
            """
        ),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )
    return run_stream_to_memory(spark, joined, "append")


def run_observed_stream(spark: SparkSession, sf_dir: str):
    """Execute the QA-observed ingest stream to completion; return
    (final batch DataFrame, accumulated observed metrics).

    The scan_observe_metrics pattern carried into Structured
    Streaming: `.observe()` rides the SAME micro-batch pass the
    pipeline already runs (accumulator-backed, zero extra jobs), and
    each batch's metrics surface in that batch's StreamingQueryProgress
    under `observedMetrics` — polled from q.recentProgress after the
    availableNow drain, then summed across batches. No listener
    thread, no module-level state: callers get the metrics as a
    return value."""
    s = read_events_stream(spark, sf_dir)
    observed = s.observe(
        "stream_qa",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
            "total_cents"
        ),
        F.count_if(F.col("event_type") == "error").alias("n_bad"),
    )
    agg = (
        observed.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents_sum"),
        )
    )
    import os
    import shutil
    import tempfile
    import uuid

    name = "s" + uuid.uuid4().hex[:12]
    ckpt = os.path.join(tempfile.gettempdir(), "gds_ckpt", name)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        spark.conf.get(
            "gds.stream.statePartitions", str(_STREAM_STATE_PARTITIONS)
        ),
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        totals = {"n_rows": 0, "total_cents": 0, "n_bad": 0, "n_batches": 0}
        for prog in q.recentProgress:
            m = (prog.get("observedMetrics") or {}).get("stream_qa")
            if m:
                totals["n_rows"] += m["n_rows"]
                totals["total_cents"] += m["total_cents"]
                totals["n_bad"] += m["n_bad"]
                totals["n_batches"] += 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    result = spark.table(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return result, totals


@query(
    "stream_observe_metrics",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events WHERE event_type <> 'error'
    GROUP BY event_type
    """,
)
def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest QA counters (round 5 batch 9): the row-count /
    value-total / bad-row metrics ride `.observe()` ON the live
    micro-batch stream — per-batch validation with zero extra jobs,
    exactly how a 100 TB streaming ingest self-audits (alert on n_bad
    the moment a batch lands, not after a nightly re-scan). The
    drained per-type aggregate is the exact-oracle surface; the
    observed per-batch metric totals (polled from recentProgress —
    see run_observed_stream) are asserted against batch ground truth
    in tests/test_streaming.py, including a forced multi-batch run."""
    result, _ = run_observed_stream(spark, sf_dir)
    return result.select("event_type", "n_events", "cents_sum")


@query(
    "stream_tumbling_distinct",
    """
    SELECT date_trunc('hour', ts) AS win_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
    """,
)
def stream_tumbling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per tumbling hour, as a real stream
    (round 7) — the pattern Structured Streaming forbids directly
    (COUNT(DISTINCT) is unsupported in streaming aggs) executed the
    supported way: stream-side dropDuplicates on (user_id, hour)
    collapses each user's events to one state row per window, then a
    plain streaming COUNT(*) per window is exactly the distinct
    count.  Final state ≡ the batch COUNT(DISTINCT) oracle.

    This is the streaming DAU primitive (events_stickiness'
    numerator as a live pipeline); with a watermark the dedup state
    expires per window — documented production form, exercised
    un-watermarked here because availableNow replays a bounded
    fixture.

    Scale: dedup state is |users active in window| rows keyed by
    (user, window) — the same key the count shuffles on; both stages
    share one exchange."""
    s = read_events_stream(spark, sf_dir)
    hour = F.date_trunc("hour", F.col("ts"))
    dedup = s.select(
        "user_id", hour.alias("win_start")
    ).dropDuplicates(["user_id", "win_start"])
    agg = dedup.groupBy("win_start").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    out = run_stream_to_memory(spark, agg, "complete")
    return out.select("win_start", "n_users")


@query(
    "stream_topk_per_window",
    """
    WITH agg AS (
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT win_start, event_type, n_events, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT win_start, event_type, n_events,
               ROW_NUMBER() OVER (PARTITION BY win_start
                   ORDER BY n_events DESC, event_type) AS rk
        FROM agg
    ) WHERE rk <= 3
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TOP-K per tumbling window (round 9): the hourly
    leaderboard — which event types dominated each hour — as a real
    micro-batch stream. Structured Streaming cannot rank inside the
    stream (no window functions over streaming aggregates), so this
    is the documented TWO-LAYER pattern every streaming leaderboard
    uses: the STREAM maintains the per-(window, key) counts (complete
    mode, mergeable state, watermark-safe); the RANK is a trivial
    keyed window over the drained aggregate — batch finishing over
    streaming state, the same split stream_foreachbatch demonstrates
    for sinks. Tie-pins on event_type keep the leaderboard
    deterministic.

    Scale: streaming state is |windows|×|types| counters (bounded),
    and the finishing rank runs per window key — no single-partition
    stage; at production scale the drain is a foreachBatch upsert
    into the serving store and the rank is the reader's query."""
    s = read_events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    out = run_stream_to_memory(spark, agg, "complete")
    w = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        out.select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
    )


@query(
    "stream_hierarchical_rollup",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                   AS value_e4
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', h) AS DATE) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(value_e4) AS BIGINT) AS value_e4
    FROM hourly GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HIERARCHICAL rollup hour→day (round 10): Structured
    Streaming forbids chained streaming aggregations (an agg over an
    agg has no incremental plan), so the production pattern is the
    TWO-LAYER split the topk/rank ops also use — the STREAM maintains
    the finest-grain mergeable state (hourly sums per type), and the
    day level is a trivial batch rollup over the drained hourly
    table.  This is the lambda-architecture collapse done right: one
    streaming state store serves EVERY coarser grain because sums
    are mergeable — the property ts_hierarchy_coherence audits from
    the consistency side.

    Exactness: counts and floor-e4 value sums are exact bigints at
    both layers; the day table is pure integer addition over hours.

    Scale: streaming state is |hours|×|types| counters (bounded by
    the calendar, not traffic); the finishing rollup is keyed on
    (day, type) — at production scale the drain is a foreachBatch
    upsert and the day grain is the reader's GROUP BY."""
    s = read_events_stream(spark, sf_dir)
    hourly = s.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("value_e4"),
    )
    out = run_stream_to_memory(spark, hourly, "complete")
    return (
        out.select(
            F.col("w.start").alias("h"), "event_type", "n_events", "value_e4"
        )
        .groupBy(
            F.date_trunc("day", F.col("h")).cast("date").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("value_e4").cast("bigint").alias("value_e4"),
        )
        .orderBy("day", "event_type")
    )


@query(
    "batch_session_window",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_start
        FROM events WHERE user_id < 40
    ), sessions AS (
        SELECT user_id, ts, v,
               SUM(is_start) OVER (PARTITION BY user_id
                                   ORDER BY ts) AS session_no
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v) AS BIGINT) AS val_e4
    FROM sessions GROUP BY user_id, session_no
    """,
)
def batch_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE session_window IN BATCH MODE (round 11): Spark's
    session_window() is not streaming-only — the same
    gap-merging window works as a batch groupBy key, and THIS is the
    plan you want at 100 TB (one keyed aggregate, map-side partials,
    no window function pass at all) versus the manual gaps-islands
    two-window program (events_sessionize) it replaces.  Both now
    exist in §2 precisely so the plans can be compared: the manual
    form when you need the session NUMBER on every row, the native
    form when you only need per-session aggregates.

    Parity: Spark merges events whose windows [ts, ts+30min)
    overlap, i.e. a new session starts when the gap is >= 30 min
    exactly — the oracle's gaps-islands uses >= (note:
    events_sessionize's convention is >, a deliberately documented
    difference); session_end is last event + gap in both.

    Scale: ONE keyed aggregate with session merging inside the
    aggregation (ObjectHashAggregate / merging session buffers) —
    no window exchange, no row_number pass."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000).cast("bigint"))
            .cast("bigint")
            .alias("val_e4"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "val_e4",
        )
    )


@query(
    "stream_srm_monitor",
    """
    WITH users AS (
        SELECT user_id,
               CAST(CAST('0x' || substr(md5('srm:' ||
                    CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2
                    AS BIGINT) AS arm
        FROM events GROUP BY 1
    )
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM users GROUP BY arm ORDER BY arm
    """,
)
def stream_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sample-ratio monitor (round 12): the production form
    of events_ab_srm_check — assignment health has to be watched
    WHILE the experiment runs (a one-armed logging drop is only
    cheap to catch early), so the stream keeps per-user
    dropDuplicates state (first sighting wins; watermark-bounded)
    and maintains the per-arm distinct-user counts in complete mode.
    The availableNow run's final table equals the batch oracle
    exactly — streaming-vs-batch parity IS the correctness claim.

    Scale: user-keyed dedup state + a 2-key aggregate; state is one
    row per user per watermark horizon — the stream_dedup posture
    with an md5-derived key downstream."""
    s = read_events_stream(spark, sf_dir)
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("srm:"), F.col("user_id").cast("string")
                    ).cast("binary")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    dedup = (
        s.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id"])
    )
    agg = (
        dedup.select(arm.alias("arm"))
        .groupBy("arm")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )
    return run_stream_to_memory(spark, agg, "complete").orderBy("arm")
