"""Streaming scenarios the driver's rows-only check can't see:
multi-micro-batch equivalence, watermark late-data dropping, and
stateful state carry-over (SURVEY §5.2-3 batch↔stream equivalence)."""

import os
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
import pytest

from graphsense_datafeed_spark.sources.tables import load
from graphsense_datafeed_spark.streaming.windows import run_stream_to_memory


@pytest.fixture(scope="module")
def multi_file_events(spark, sf_dir):
    """Events re-laid as 6 range-partitioned files (≈ six arrivals) so
    maxFilesPerTrigger=1 forces a genuine multi-batch run."""
    d = os.path.join(tempfile.gettempdir(), "gds_test_multifile", uuid.uuid4().hex[:8])
    load(spark, sf_dir, "events").repartitionByRange(6, "event_id").write.parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stream_events(spark, path, max_files=1):
    return (
        spark.readStream.schema(
            "event_id bigint, ts timestamp_ntz, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def test_multibatch_tumbling_equals_batch(spark, sf_dir, multi_file_events):
    """Windowed agg over 6 micro-batches == the one-shot batch agg."""
    s = _stream_events(spark, multi_file_events)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    got = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in run_stream_to_memory(spark, agg, "complete").collect()
    }
    want = {
        (r["win"]["start"], r["event_type"]): r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stateful_state_carries_across_batches(spark, sf_dir, multi_file_events):
    """applyInPandasWithState: per-user counts must ACCUMULATE across
    micro-batches; final per-user state == batch groupBy counts."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator, state: GroupState) -> Iterator:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    s = _stream_events(spark, multi_file_events).select("user_id")
    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = run_stream_to_memory(spark, out, "update").collect()
    # one emission per (user, batch-with-data); the max per user is the
    # final accumulated state
    final = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0), r["n"])
    want = {
        r["user_id"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == want
    # and there really were multiple emissions for at least one user
    assert len(rows) > len(want)


def test_watermark_drops_late_event(spark):
    """A two-batch file sequence where batch 2 carries an event older
    than (max event time − watermark): the late event must NOT appear
    in any finalized window."""
    d = os.path.join(tempfile.gettempdir(), "gds_test_late", uuid.uuid4().hex[:8])
    ckpt = os.path.join(d, "ckpt")
    src = os.path.join(d, "src")
    os.makedirs(src)

    def write_batch(name, rows):
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint"
        )
        df.coalesce(1).write.parquet(os.path.join(d, "stage", name))
        # move files in atomically so the source sees one new file per
        # listing (≈ one micro-batch per file)
        stage = os.path.join(d, "stage", name)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                shutil.move(os.path.join(stage, f), os.path.join(src, name + ".parquet"))

    import datetime

    t = datetime.datetime(2024, 6, 1, 10, 0, 0)

    def ts(minutes):
        return t + datetime.timedelta(minutes=minutes)

    write_batch("b1", [(1, ts(0), 1), (2, ts(65), 1)])  # advances watermark past 10:00 window
    name = "late" + uuid.uuid4().hex[:8]
    s = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one on-time event (10:55 window open) + one LATE
        # event at 10:05 — watermark is already 10:55 (65-10) > 10:05+1h
        # window end? The 10:00-11:00 window closed when watermark
        # passed 11:00 — push watermark first with a third event.
        write_batch("b2", [(3, ts(130), 1)])  # watermark → 12:00-10min
        q.processAllAvailable()
        write_batch("b3", [(4, ts(5), 1), (5, ts(135), 1)])  # event 4 is LATE
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["window"]["start"].hour, r["n"]) for r in spark.table(name).collect()
    }
    # the 10:00 window finalized with exactly 2 events (1 and 2... no —
    # event 2 is 11:05) → window(10:00)={1}, late event 4 dropped.
    assert (10, 1) in got, got
    assert (10, 2) not in got, f"late event leaked into closed window: {got}"
    shutil.rmtree(d, ignore_errors=True)


def test_foreachbatch_idempotent_rerun(spark, sf_dir):
    """Re-running the foreachBatch ingest over the same data must not
    duplicate rows (overwrite-by-batch idempotency)."""
    from graphsense_datafeed_spark.registry import QUERIES

    n1 = QUERIES["stream_foreachbatch"](spark, sf_dir).count()
    n2 = QUERIES["stream_foreachbatch"](spark, sf_dir).count()
    want = load(spark, sf_dir, "events").count()
    assert n1 == n2 == want


def test_stream_stateful_tws_equals_batch(spark, sf_dir):
    """stream_stateful_tws (transformWithStateInPandas where protobuf
    exists, its applyInPandasWithState twin here) final per-user state
    must equal the batch aggregate including the per-type MapState
    projection (purchase counts)."""
    from graphsense_datafeed_spark.registry import QUERIES

    got = {
        r["user_id"]: (r["n_events"], r["total_cents"], r["n_purchases"])
        for r in QUERIES["stream_stateful_tws"](spark, sf_dir).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["cents"], r["p"])
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            F.count_if(F.col("event_type") == "purchase").alias("p"),
        )
        .collect()
    }
    assert got == want


def test_restart_resumes_from_checkpoint(spark, sf_dir):
    """The daemon-restart story: stop the stream, deliver more data,
    start a NEW query on the same checkpoint — it must resume from the
    recorded offsets (no reprocessing of batch 1, no loss of batch 2).
    File sink + checkpoint give exactly-once across the restart."""
    d = os.path.join(tempfile.gettempdir(), "gds_test_restart", uuid.uuid4().hex[:8])
    src, sink, ckpt = (os.path.join(d, x) for x in ("src", "sink", "ckpt"))
    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    b1 = ev.filter(F.col("event_id") < 100)
    b2 = ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 250))
    b1.coalesce(1).write.parquet(os.path.join(src, "b1"))

    def run_once():
        q = (
            spark.readStream.schema("event_id bigint, user_id bigint")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_after_b1 = spark.read.parquet(sink).count()
    assert n_after_b1 == b1.count()
    b2.coalesce(1).write.parquet(os.path.join(src, "b2"))
    run_once()  # brand-new query object, same checkpoint
    got = spark.read.parquet(sink)
    assert got.count() == b1.count() + b2.count()  # no dups, no loss
    assert got.select("event_id").distinct().count() == got.count()
    shutil.rmtree(d, ignore_errors=True)


def test_rates_upsert_revision_wins(spark, sf_dir):
    """The rates-refresh stream must apply per-date upsert semantics:
    the re-fetched (revised) dates carry the corrected usd, every
    other date keeps its original value, and no date is duplicated."""
    import csv

    from pyspark.sql import functions as F

    from graphsense_datafeed_spark.registry import QUERIES
    from graphsense_datafeed_spark.sources.scans import RATES_CSV

    with open(RATES_CSV) as f:
        base = sorted(csv.DictReader(f), key=lambda r: r["date"])
    revised = {r["date"]: float(r["usd"]) * 2 for r in base[:5]}

    got = {
        r["date"].isoformat(): (r["usd"], r["eur"])
        for r in QUERIES["stream_rates_upsert"](spark, sf_dir).collect()
    }
    assert len(got) == len(base)  # one row per date — upsert, not append
    for r in base:
        want_usd = revised.get(r["date"], float(r["usd"]))
        assert got[r["date"]][0] == want_usd, r["date"]
        assert got[r["date"]][1] == float(r["eur"]), r["date"]


def test_multibatch_stream_stream_join_equals_batch(spark, sf_dir):
    """Stream-stream inner join over 6 IN-ORDER micro-batches must
    equal the one-shot batch join: matches across batch boundaries
    come from buffered state, and the 2 h watermark (> the 1 h join
    range) means eviction never drops a row an in-order purchase could
    still match. Files are staged with increasing mtimes because the
    file source orders batches by modification time — same-mtime files
    arrive in arbitrary order, which for watermarked state is genuine
    out-of-order input (the multi_file_events fixture is only safe for
    order-insensitive aggregations)."""
    ev_all = load(spark, sf_dir, "events").orderBy("event_id").collect()
    d = os.path.join(tempfile.gettempdir(), "gds_sj", uuid.uuid4().hex[:8])
    os.makedirs(d)
    n = len(ev_all)
    step = (n + 5) // 6
    import glob

    for i in range(6):
        chunk = ev_all[i * step : (i + 1) * step]
        if not chunk:
            continue
        stage = os.path.join(d, f"_stage_{i}")
        spark.createDataFrame(chunk, schema=load(spark, sf_dir, "events").schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(d, f"chunk_{i}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(stage)
        base = 1_000_000 + i * 1000
        os.utime(dest, (base, base))
    s = _stream_events(spark, d)
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        s.filter(F.col("event_type") == "purchase")
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
            "user_id = p_user_id AND purchase_ts >= click_ts "
            "AND purchase_ts < click_ts + INTERVAL 1 HOUR"
        ),
    ).select("click_id", "purchase_id")
    got = {
        (r["click_id"], r["purchase_id"])
        for r in run_stream_to_memory(spark, joined, "append").collect()
    }

    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            F.expr(
                "user_id = pu AND pts >= cts AND pts < cts + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_rocksdb_state_store_provider(spark, sf_dir, multi_file_events):
    """Production streaming state lives in RocksDB, not the default
    in-memory HDFS-backed store (bounded executor heap at 100 TB/day
    key cardinality). The windowed agg must produce identical results
    under the RocksDB provider — pinning that the deployment config
    actually works in this distro (rocksdbjni ships in the jars)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        s = _stream_events(spark, multi_file_events)
        agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
            F.count("*").alias("n")
        )
        got = {
            (r["window"]["start"], r["event_type"]): r["n"]
            for r in run_stream_to_memory(spark, agg, "complete").collect()
        }
    finally:
        spark.conf.set(key, prev)
    want = {
        (r["win"]["start"], r["event_type"]): r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_watermark_progression_three_batches(spark):
    """Watermark PROGRESSION, not just final state: three explicit
    micro-batches with a late row arriving BETWEEN batches. Spark
    drops a late row only when its WINDOW's end is at or below the
    current watermark, so the planted late row (9:45, window ending
    10:00) lands one full window behind the 10:55 watermark — it must
    vanish without ever creating state. Asserts cumulative append-mode
    emissions at each processAllAvailable checkpoint, so the test
    fails if

    - the watermark is removed (append agg without watermark raises),
    - the threshold shrinks ≲5 min (win10 emits at checkpoint 1),
    - the threshold grows ≳15 min (win11 misses checkpoint 3) or
      ≳70 min (the 9:45 row is accepted and win9 appears), or
    - state eviction breaks (the still-open 12:00 window must never
      be emitted).

    Timeline (1-hour windows, 10-min delay): batch1 = 10:00/10:20/
    10:40/11:05 -> wm 10:55, nothing closed. batch2 = LATE 9:45
    (window end 10:00 <= wm, dropped) + 12:00/12:05 -> wm 11:55; the
    no-data flush emits win10 (n=3). batch3 = 12:14 -> wm 12:04; the
    flush emits win11 (n=1); win12 stays open through end-of-stream."""
    d = os.path.join(tempfile.gettempdir(), "gds_test_wmprog", uuid.uuid4().hex[:8])
    src_dir = os.path.join(d, "src")
    os.makedirs(src_dir)
    import datetime

    t0 = datetime.datetime(2024, 6, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    def write_file(name, rows):
        stage = os.path.join(d, "stage", name)
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp"
        ).coalesce(1).write.parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                shutil.move(
                    os.path.join(stage, f), os.path.join(src_dir, name + ".parquet")
                )

    emitted: list[tuple[int, int]] = []  # (window start hour, n)

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            emitted.append((r["window"]["start"].hour, r["n"]))

    write_file("b1", [(1, ts(0)), (2, ts(20)), (3, ts(40)), (4, ts(65))])
    s = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # checkpoint 1: wm only reached 10:55 — nothing closed yet
        assert emitted == [], f"premature emission (threshold too small?): {emitted}"
        write_file("b2", [(5, ts(-15)), (6, ts(120)), (7, ts(125))])  # 5 is LATE
        q.processAllAvailable()
        # checkpoint 2: wm 11:55 closed win10 (n=3); the late 9:45 row
        # was dropped without ever creating a win9 state entry
        assert sorted(emitted) == [(10, 3)], emitted
        write_file("b3", [(8, ts(134))])
        q.processAllAvailable()
        # checkpoint 3: wm 12:04 closed win11; win12 still open
        assert sorted(emitted) == [(10, 3), (11, 1)], emitted
    finally:
        q.stop()
    assert all(h not in (9, 12) for h, _ in emitted), f"late/open leak: {emitted}"
    shutil.rmtree(d, ignore_errors=True)


def test_stateful_per_batch_progression(spark, sf_dir, multi_file_events):
    """The stateful PROGRESSION itself, not just its endpoint: captured
    per micro-batch, every user's running count must be STRICTLY
    increasing across the batches that mention the user (each mention
    adds ≥1 event; a state store that dropped or re-initialized state
    between batches would emit a flat or decreasing step), and the last
    step must equal the batch aggregate."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator, state: GroupState) -> Iterator:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    s = _stream_events(spark, multi_file_events).select("user_id")
    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    steps: list[tuple[int, int, int]] = []  # (batch_id, user_id, n)

    def sink(bdf, bid):
        for r in bdf.collect():
            steps.append((bid, r["user_id"], r["n"]))

    ckpt = os.path.join(
        tempfile.gettempdir(), "gds_test_prog", uuid.uuid4().hex[:8]
    )
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    by_user: dict[int, list[tuple[int, int]]] = {}
    for bid, uid, n in steps:
        by_user.setdefault(uid, []).append((bid, n))
    assert by_user
    multi = 0
    for uid, seq in by_user.items():
        seq.sort()
        ns = [n for _, n in seq]
        assert all(a < b for a, b in zip(ns, ns[1:])), (uid, seq)
        multi += len(ns) > 1
    assert multi > 0  # progression was actually multi-step somewhere
    want = {
        r["user_id"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {u: seq[-1][1] for u, seq in by_user.items()} == want


def test_watermark_same_batch_eviction_race(spark):
    """The eviction RACE the three-batch progression test can't see:
    a late-ish row arriving in the SAME micro-batch as the advance
    that will evict its window. Spark admits rows against the
    watermark computed at the end of the PREVIOUS batch, then advances
    the watermark and evicts at batch END — so the 10:30 row in batch
    2 must land in win10 (its window end 11:00 is above the entering
    watermark 10:59:59.999) even though its batch-mate at 13:00 moves
    the watermark to 12:50, which closes win10 immediately after. An
    engine that filtered against its OWN batch's watermark would drop
    the row and emit win10 with n=1 instead of n=2.

    Batch 1 also pins the ms-TRUNCATION edge (ADVICE r3): its max
    event time 11:09:59.999500 puts the raw watermark at
    10:59:59.999500, which Spark FLOORS to the millisecond —
    10:59:59.999 < 11:00, so win10 must still be open at checkpoint 1.
    Rounding (to 11:00:00.000) would close and emit it early, and a
    threshold change in either direction flips one of the asserts."""
    import datetime

    d = os.path.join(
        tempfile.gettempdir(), "gds_test_wmrace", uuid.uuid4().hex[:8]
    )
    src_dir = os.path.join(d, "src")
    os.makedirs(src_dir)
    t0 = datetime.datetime(2024, 6, 1, 10, 0, 0)

    def ts(minutes, micros=0):
        return t0 + datetime.timedelta(minutes=minutes, microseconds=micros)

    def write_file(name, rows):
        stage = os.path.join(d, "stage", name)
        spark.createDataFrame(rows, "event_id bigint, ts timestamp").coalesce(
            1
        ).write.parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                shutil.move(
                    os.path.join(stage, f),
                    os.path.join(src_dir, name + ".parquet"),
                )

    emitted: list[tuple[int, int]] = []  # (window start hour, n)

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            emitted.append((r["window"]["start"].hour, r["n"]))

    # batch 1: win10 has one row; max ts 11:09:59.999500 → watermark
    # floors to 10:59:59.999, a hair BELOW win10's end
    write_file("b1", [(1, ts(0)), (2, ts(69, 59_999_500))])
    s = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # ms-floor: watermark 10:59:59.999 < 11:00 → win10 still open.
        # A rounded-up watermark would have emitted (10, 1) here.
        assert emitted == [], f"truncation edge broke (rounded up?): {emitted}"
        # batch 2: the race — 10:30 (win10) rides with the 13:00
        # advance. Entering wm 10:59:59.999 admits it; the exit wm
        # 12:50 then evicts win10 WITH the row counted.
        write_file("b2", [(3, ts(30)), (4, ts(180))])
        q.processAllAvailable()
        got = sorted(emitted)
        assert (10, 2) in got, (
            f"same-batch late row lost — admission used the batch's own "
            f"watermark instead of the previous one: {got}"
        )
        assert (10, 1) not in got, got
        # win11 (the 11:09 row) closed by the same advance; win13 open
        assert (11, 1) in got, got
        assert all(h != 13 for h, _ in got), f"open window leaked: {got}"
    finally:
        q.stop()
    shutil.rmtree(d, ignore_errors=True)


def test_python_stream_source_pages_exactly_once(spark, sf_dir):
    """The custom streaming DataSource must drain the whole 120-block
    feed in page-sized micro-batches with no drop or double-read, and
    its paging must be genuinely incremental (multiple batches)."""
    import json

    from graphsense_datafeed_spark.registry import QUERIES
    from graphsense_datafeed_spark.sources.scans import BLOCKS_JSONL

    out = QUERIES["source_python_stream"](spark, sf_dir).collect()
    with open(BLOCKS_JSONL) as f:
        feed = [json.loads(line) for line in f]
    assert len(out) == len(feed) == 120
    got = sorted((r["height"], r["block_hash"]) for r in out)
    want = sorted((b["height"], b["block_hash"]) for b in feed)
    assert got == want  # exactly-once: no page dropped or replayed


def test_observe_metrics_match_batch_truth(spark, sf_dir):
    """The drained .observe() totals must equal batch ground truth:
    every ingested row is counted exactly once, cents sum exact, bad
    rows flagged."""
    from graphsense_datafeed_spark.streaming.windows import run_observed_stream

    result, totals = run_observed_stream(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    cents = ev.select(
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("c")
    ).collect()[0]["c"]
    n_bad = ev.filter(F.col("event_type") == "error").count()
    assert totals["n_rows"] == n
    assert totals["total_cents"] == cents
    assert totals["n_bad"] == n_bad
    assert totals["n_batches"] >= 1
    got = {r["event_type"]: (r["n_events"], r["cents_sum"]) for r in result.collect()}
    want = {
        r["event_type"]: (r["n"], r["c"])
        for r in ev.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("c"),
        )
        .collect()
    }
    assert got == want


def test_observe_metrics_accumulate_across_batches(spark, sf_dir, multi_file_events):
    """Per-batch observed metrics over a forced 6-batch run must SUM
    to the same totals — the accumulation is per batch, not per
    query."""
    import os
    import shutil
    import tempfile
    import uuid

    s = _stream_events(spark, multi_file_events)
    observed = s.observe(
        "qa",
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("event_type") == "error").alias("n_bad"),
    )
    agg = observed.groupBy().agg(F.count("*").alias("n"))
    name = "s" + uuid.uuid4().hex[:12]
    ckpt = os.path.join(tempfile.gettempdir(), "gds_ckpt", name)
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    per_batch = [
        (prog.get("observedMetrics") or {}).get("qa")
        for prog in q.recentProgress
    ]
    per_batch = [m for m in per_batch if m]
    shutil.rmtree(ckpt, ignore_errors=True)
    assert len(per_batch) >= 6  # one per file-triggered micro-batch
    ev = load(spark, sf_dir, "events")
    assert sum(m["n_rows"] for m in per_batch) == ev.count()
    assert sum(m["n_bad"] for m in per_batch) == ev.filter(
        F.col("event_type") == "error"
    ).count()


def test_watermark_per_batch_drop_counts(spark):
    """Per-batch LATE-DROP accounting from the engine's own state
    operator metrics (VERDICT r5 #7): the planted 9:45 row — one full
    window behind the watermark — must show up as EXACTLY ONE row in
    numRowsDroppedByWatermark in the batch it arrives, and ZERO drops
    in every other batch.  This pins the drop TIMING (the row dies at
    ingest of its own batch, it never creates state that a later flush
    quietly discards) — the one progression behavior the final-state
    oracles can't see."""
    import datetime

    d = os.path.join(
        tempfile.gettempdir(), "gds_test_wmdrop", uuid.uuid4().hex[:8]
    )
    src_dir = os.path.join(d, "src")
    os.makedirs(src_dir)
    t0 = datetime.datetime(2024, 6, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    def write_file(name, rows):
        stage = os.path.join(d, "stage", name)
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp"
        ).coalesce(1).write.parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                shutil.move(
                    os.path.join(stage, f),
                    os.path.join(src_dir, name + ".parquet"),
                )

    def drops_so_far(q):
        total = 0
        for p in q.recentProgress:
            for op in p["stateOperators"]:
                total += op.get("numRowsDroppedByWatermark", 0)
        return total

    write_file("b1", [(1, ts(0)), (2, ts(20)), (3, ts(40)), (4, ts(65))])
    s = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wmdrop_" + uuid.uuid4().hex[:6])
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert drops_so_far(q) == 0, q.recentProgress
        # batch 2 carries the late 9:45 row + two on-time rows
        write_file("b2", [(5, ts(-15)), (6, ts(120)), (7, ts(125))])
        q.processAllAvailable()
        assert drops_so_far(q) == 1, "late row not dropped in its own batch"
        # batch 3: on-time only — no further drops
        write_file("b3", [(8, ts(134))])
        q.processAllAvailable()
        assert drops_so_far(q) == 1, "spurious drop in an on-time batch"
    finally:
        q.stop()
    shutil.rmtree(d, ignore_errors=True)


def test_stream_pattern_match_carries_state_across_batches(spark, sf_dir):
    """The view→click*→purchase state machine must survive micro-batch
    boundaries: 6 TIME-ORDERED files (increasing mtimes, global
    (ts,event_id) order so every user's rows arrive in order) — a
    carried view whose purchase lands batches later must still match,
    and the drained match set must equal the batch operator exactly."""
    import glob

    from graphsense_datafeed_spark.registry import QUERIES
    from graphsense_datafeed_spark.streaming.stateful import (
        stream_pattern_match,
    )

    ev_all = (
        load(spark, sf_dir, "events").orderBy("ts", "event_id").collect()
    )
    d = os.path.join(tempfile.gettempdir(), "gds_pm", uuid.uuid4().hex[:8])
    os.makedirs(d)
    n = len(ev_all)
    step = (n + 5) // 6
    for i in range(6):
        chunk = ev_all[i * step : (i + 1) * step]
        if not chunk:
            continue
        stage = os.path.join(d, f"_stage_{i}")
        spark.createDataFrame(
            chunk, schema=load(spark, sf_dir, "events").schema
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(d, f"chunk_{i}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(stage)
        base = 2_000_000 + i * 1000
        os.utime(dest, (base, base))

    # run the streaming matcher against the chunked dir: symlink the
    # chunks as the events stream source by pointing sf_dir at a
    # staged copy — simplest is to call the operator internals via a
    # temp sf_dir layout
    sf_stage = os.path.join(d, "sfdir")
    os.makedirs(sf_stage)
    os.symlink(
        os.path.join(os.path.abspath(sf_dir), "events.parquet"),
        os.path.join(sf_stage, "events.parquet"),
    )
    # the stream reader consumes a directory; point it at the chunks
    from graphsense_datafeed_spark.streaming import windows as sw

    orig = sw._events_stream_dir
    try:
        sw._events_stream_dir = lambda _sf: d
        got = {
            (r["match_id"], r["user_id"], r["start_id"], r["n_clicks"], r["span_us"])
            for r in stream_pattern_match(spark, sf_stage).collect()
        }
    finally:
        sw._events_stream_dir = orig
    want = {
        (r["match_id"], r["user_id"], r["start_id"], r["n_clicks"], r["span_us"])
        for r in QUERIES["win_pattern_match_var"](spark, sf_dir).collect()
    }
    assert got == want
    # matches must span batch boundaries for the test to mean anything:
    # at least one match's start and purchase sit in different chunks
    id_to_chunk = {}
    for i in range(6):
        for r in ev_all[i * step : (i + 1) * step]:
            id_to_chunk[r["event_id"]] = i
    assert any(
        id_to_chunk[m[0]] != id_to_chunk[m[2]] for m in want
    ), "fixture produced no cross-batch match; split differently"
    shutil.rmtree(d, ignore_errors=True)


def _stage_reorg_feed(feed_dir, upto_file):
    """Stage the block-header feed as 4 mtime-ordered jsonl files:
    chunks 0-2 = the clean chain in height thirds, chunk 3 = a reorg
    (competing blocks at heights 100/110, later ingest_seq) plus two
    catch-up blocks 120/121.  ``upto_file`` stages only the first N
    files (the daemon-restart soak adds the rest later)."""
    import json
    import os

    from graphsense_datafeed_spark.sources.scans import BLOCKS_JSONL

    os.makedirs(feed_dir, exist_ok=True)
    headers = []
    with open(BLOCKS_JSONL) as fh:
        for seq, line in enumerate(fh):
            b = json.loads(line)
            headers.append(
                {
                    "height": b["height"],
                    "block_hash": b["block_hash"],
                    "timestamp": b["timestamp"],
                    "no_transactions": b["no_transactions"],
                    "ingest_seq": seq,
                }
            )
    chunks = [headers[0:40], headers[40:80], headers[80:120]]
    seq = len(headers)
    reorg = []
    for h, hsh in ((100, "f" * 64), (110, "e" * 64)):
        reorg.append(
            {
                "height": h,
                "block_hash": hsh,
                "timestamp": 1_231_006_505 + h * 600 + 99,
                "no_transactions": 1,
                "ingest_seq": seq,
            }
        )
        seq += 1
    for h in (120, 121):
        reorg.append(
            {
                "height": h,
                "block_hash": f"{h:064x}",
                "timestamp": 1_231_006_505 + h * 600,
                "no_transactions": 2,
                "ingest_seq": seq,
            }
        )
        seq += 1
    chunks.append(reorg)
    for i, chunk in enumerate(chunks[:upto_file]):
        path = os.path.join(feed_dir, f"feed_{i}.jsonl")
        if os.path.exists(path):
            continue
        with open(path + ".tmp", "w") as out:
            for rec in chunk:
                out.write(json.dumps(rec) + "\n")
        os.rename(path + ".tmp", path)
        os.utime(path, (4_000_000 + i * 1000, 4_000_000 + i * 1000))


def _block_table_rows(spark, target):
    return sorted(
        (r["height"], r["block_hash"], r["ingest_seq"])
        for r in spark.read.parquet(target).collect()
    )


def test_stream_reorg_soak_batch_equivalence(spark, tmp_path):
    """THE REORG SOAK (verdict r7 item 7 / r8 item 6): drive the
    streaming block daemon over a 4-file feed whose LAST micro-batch
    carries a mid-chain reorg (competing blocks at heights 100/110)
    plus catch-up blocks, with maxFilesPerTrigger=1 so the reorg
    really arrives after its victims are ingested and committed.
    The drained table must equal the one-shot batch ingest of the
    same feed EXACTLY, the orphaned hashes must be gone, and the
    replacements + catch-up blocks present."""
    import json

    from graphsense_datafeed_spark.ingest.facade import (
        batch_ingest_blocks,
        stream_ingest_blocks,
    )
    from graphsense_datafeed_spark.sources.scans import BLOCKS_JSONL

    feed = str(tmp_path / "feed")
    target = str(tmp_path / "block_table")
    _stage_reorg_feed(feed, upto_file=4)
    stream_ingest_blocks(spark, feed, target, str(tmp_path / "ckpt"))

    got = _block_table_rows(spark, target)
    want = sorted(
        (r["height"], r["block_hash"], r["ingest_seq"])
        for r in batch_ingest_blocks(spark, feed).collect()
    )
    assert got == want
    by_height = {h: hsh for h, hsh, _ in got}
    # reorg applied: winners replaced, originals orphaned
    assert by_height[100] == "f" * 64
    assert by_height[110] == "e" * 64
    orig = {}
    with open(BLOCKS_JSONL) as fh:
        for line in fh:
            b = json.loads(line)
            orig[b["height"]] = b["block_hash"]
    hashes = {hsh for _, hsh, _ in got}
    assert orig[100] not in hashes and orig[110] not in hashes
    # untouched heights keep their original block
    assert by_height[50] == orig[50]
    # catch-up blocks ingested
    assert 120 in by_height and 121 in by_height
    assert len(got) == 122  # 120 chain + 2 catch-up, one row per height


def test_stream_reorg_daemon_restart_resumes_exactly_once(spark, tmp_path):
    """Daemon-restart soak: run the stream over the first two feed
    files, kill it (availableNow drains and stops), then add the
    remaining files — including the reorg — and restart with the SAME
    checkpoint.  The resumed daemon must process only the new files
    (exactly-once) and converge to the identical batch-ingest state;
    a third run with nothing new must be a no-op."""
    from graphsense_datafeed_spark.ingest.facade import (
        batch_ingest_blocks,
        stream_ingest_blocks,
    )

    feed = str(tmp_path / "feed")
    target = str(tmp_path / "block_table")
    ckpt = str(tmp_path / "ckpt")

    _stage_reorg_feed(feed, upto_file=2)
    stream_ingest_blocks(spark, feed, target, ckpt)
    mid = _block_table_rows(spark, target)
    assert len(mid) == 80  # first two thirds, no reorg yet

    _stage_reorg_feed(feed, upto_file=4)  # the rest arrives
    stream_ingest_blocks(spark, feed, target, ckpt)
    got = _block_table_rows(spark, target)
    want = sorted(
        (r["height"], r["block_hash"], r["ingest_seq"])
        for r in batch_ingest_blocks(spark, feed).collect()
    )
    assert got == want

    stream_ingest_blocks(spark, feed, target, ckpt)  # no new files
    assert _block_table_rows(spark, target) == got


def _next_job_id(spark):
    """The id the scheduler gives the next job.  The streaming thread
    runs its micro-batches under its own job group, so a job-group
    count from the calling thread cannot see them; the id difference
    across a drain counts every job it ran."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_stream_daemon_two_jobs_per_batch(spark, tmp_path):
    """The daemon's job budget: each micro-batch is one observed probe
    (the affected buckets) and one upsert (the window and the write in
    a single job) — at most 2 jobs per batch over the reorg-soak feed."""
    from graphsense_datafeed_spark.ingest.facade import stream_ingest_blocks

    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    _stage_reorg_feed(feed, upto_file=4)
    first = _next_job_id(spark)
    stream_ingest_blocks(spark, feed, str(tmp_path / "block_table"), ckpt)
    jobs = _next_job_id(spark) - first
    batches = len([n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()])
    assert batches == 4
    assert jobs <= 2 * batches, f"{jobs} jobs for {batches} micro-batches"


def _write_header_file(feed_dir, i, rows):
    """One mtime-ordered jsonl feed file of (height, ingest_seq) headers."""
    import json

    os.makedirs(feed_dir, exist_ok=True)
    path = os.path.join(feed_dir, f"feed_{i}.jsonl")
    with open(path, "w") as out:
        for height, seq in rows:
            rec = {
                "height": height,
                "block_hash": f"{height:060x}{seq:04x}",
                "timestamp": 1_231_006_505 + height * 600,
                "no_transactions": 1 + seq % 3,
                "ingest_seq": seq,
            }
            out.write(json.dumps(rec) + "\n")
    os.utime(path, (5_000_000 + i * 1000, 5_000_000 + i * 1000))


@pytest.mark.parametrize(
    "files",
    [
        pytest.param([[]], id="zero-row-file"),
        pytest.param([[(h, h) for h in range(30)]], id="first-batch-missing-target"),
        pytest.param(
            [
                [(h, h) for h in range(40)],
                # re-announces heights 10/20 of bucket 0, opens bucket 1
                [(10, 100), (20, 101)] + [(h, 100 + h) for h in range(50, 56)],
            ],
            id="reorg-and-new-bucket",
        ),
    ],
)
def test_stream_daemon_per_bucket_read_matches_batch(spark, tmp_path, files):
    """The per-bucket read of existing rows at its edges: a zero-row
    feed file writes nothing, a first batch creates the missing target,
    and one batch that rewrites heights of an existing bucket while
    opening a new one converges to the batch ingest of the feed."""
    from graphsense_datafeed_spark.ingest.facade import (
        batch_ingest_blocks,
        stream_ingest_blocks,
    )

    feed = str(tmp_path / "feed")
    target = str(tmp_path / "missing" / "block_table")
    for i, rows in enumerate(files):
        _write_header_file(feed, i, rows)
    stream_ingest_blocks(spark, feed, target, str(tmp_path / "ckpt"))
    want = sorted(
        (r["height"], r["block_hash"], r["ingest_seq"])
        for r in batch_ingest_blocks(spark, feed).collect()
    )
    if not want:
        assert not os.path.exists(target)
        return
    assert _block_table_rows(spark, target) == want


def test_daemon_leaves_sink_overwrite_static(spark, tmp_path):
    """The daemon's dynamic partition overwrite must stay on its own
    write: a later partitioned ParquetSink overwrite of {A, B} with {B}
    in the same session still replaces the whole table."""
    from graphsense_datafeed_spark.ingest.facade import stream_ingest_blocks
    from graphsense_datafeed_spark.sources.sinks import ParquetSink

    _write_header_file(str(tmp_path / "feed"), 0, [(h, h) for h in range(5)])
    stream_ingest_blocks(
        spark, str(tmp_path / "feed"), str(tmp_path / "block_table"),
        str(tmp_path / "ckpt"),
    )
    sink = ParquetSink(str(tmp_path / "sink"), partition_col="p")
    schema = "k bigint, p string"
    sink.write(spark.createDataFrame([(1, "A"), (2, "B")], schema), "t", ["k"])
    sink.write(spark.createDataFrame([(3, "B")], schema), "t", ["k"])
    back = spark.read.parquet(str(tmp_path / "sink" / "t")).collect()
    assert sorted((r["k"], r["p"]) for r in back) == [(3, "B")]


def test_events_state_partitions_stay_with_their_stream(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The events-derived state-partition count reaches only the
    events stream it was derived for: a later stream from another
    source runs with the floor."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    import graphsense_datafeed_spark.streaming.windows as w

    class StatePartitions(StreamingQueryListener):
        def __init__(self):
            self.seen = {}
            self.done = set()
            self.cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self.cond:
                for op in event.progress.stateOperators:
                    self.seen.setdefault(event.progress.name, set()).add(
                        op.numShufflePartitions
                    )

        def onQueryTerminated(self, event):
            with self.cond:
                self.done.add(str(event.id))
                self.cond.notify_all()

        def wait(self, n):
            with self.cond:
                assert self.cond.wait_for(lambda: len(self.done) >= n, timeout=60)
            return self.seen

    monkeypatch.setattr(w, "stream_state_partitions", lambda spark, src: 13)
    listener = StatePartitions()
    frame = str(tmp_path / "frame")
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k bigint, g bigint"
    ).write.parquet(frame)
    spark.streams.addListener(listener)
    try:
        w.stream_tumbling(spark, sf_dir).collect()
        later = (
            spark.readStream.schema("k bigint, g bigint").parquet(frame)
            .groupBy("g").agg(F.count("*").alias("n"))
        )
        rows = run_stream_to_memory(spark, later, "complete").collect()
        seen = listener.wait(2)
    finally:
        spark.streams.removeListener(listener)
    assert sorted((r["g"], r["n"]) for r in rows) == [(0, 10), (1, 10), (2, 10)]
    assert sorted(seen.values(), key=min) == [{w._STREAM_STATE_PARTITIONS}, {13}]


def _ckpt_dirs():
    d = os.path.join(tempfile.gettempdir(), "gds_ckpt")
    return set(os.listdir(d)) if os.path.isdir(d) else set()


def _file_manager(q):
    """The class name of the checkpoint manager the query's offset log
    wrote through."""
    fm = q._jsq.streamingQuery().offsetLog().fileManager()
    return fm.getClass().getName()


def _rows_frame(spark, tmp_path, n=6):
    src = str(tmp_path / "src")
    spark.createDataFrame([(i,) for i in range(n)], "k bigint").write.parquet(src)
    return spark.readStream.schema("k bigint").parquet(src)


def test_failed_stream_leaves_no_checkpoint(spark, sf_dir, monkeypatch):
    """A foreachBatch that raises on batch 0 propagates its error and
    leaves no temporary checkpoint behind."""
    import graphsense_datafeed_spark.streaming.windows as w

    bad = spark.readStream.schema("x bigint").parquet(
        w._events_stream_dir(sf_dir)
    )  # the batch has no event_id: the sink's select raises on batch 0
    monkeypatch.setattr(w, "read_events_stream", lambda spark, sf_dir: bad)
    before = _ckpt_dirs()
    with pytest.raises(Exception, match="event_id"):
        w.stream_foreachbatch(spark, sf_dir)
    assert _ckpt_dirs() - before == set()


def test_failed_memory_stream_drops_its_table(spark, tmp_path):
    """run_stream_to_memory's failure path: the error propagates and
    neither the memory table nor the checkpoint stays behind."""
    before_ckpt = _ckpt_dirs()
    before_views = {t.name for t in spark.catalog.listTables()}
    boom = _rows_frame(spark, tmp_path).select(F.raise_error(F.lit("boom")))
    with pytest.raises(Exception, match="boom"):
        run_stream_to_memory(spark, boom, "append")
    assert {t.name for t in spark.catalog.listTables()} == before_views
    assert _ckpt_dirs() - before_ckpt == set()


def test_local_checkpoint_drains_on_filesystem_manager(spark, tmp_path):
    """A stream on a local checkpoint runs on Spark's FileSystem
    checkpoint manager, and the session conf is as before afterwards."""
    from graphsense_datafeed_spark.streaming.windows import (
        FS_CHECKPOINT_MANAGER,
        _CHECKPOINT_MANAGER_KEY,
        drain_stream,
    )

    s = _rows_frame(spark, tmp_path)
    seen = []
    q = drain_stream(
        spark,
        s.writeStream.foreachBatch(lambda df, i: seen.append(df.count()))
        .trigger(availableNow=True),
        str(tmp_path / "ckpt"),
    )
    assert sum(seen) == 6
    assert _file_manager(q) == FS_CHECKPOINT_MANAGER
    assert spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) is None
    assert os.path.isdir(tmp_path / "ckpt" / "commits")  # caller-owned: kept


def test_drain_restores_conf_when_the_stream_raises(spark, tmp_path):
    from graphsense_datafeed_spark.streaming.windows import (
        _CHECKPOINT_MANAGER_KEY,
        drain_stream,
    )

    def fail(df, batch_id):
        raise RuntimeError("batch fails")

    before = _ckpt_dirs()
    with pytest.raises(Exception, match="batch fails"):
        drain_stream(
            spark,
            _rows_frame(spark, tmp_path).writeStream.foreachBatch(fail)
            .trigger(availableNow=True),
        )
    assert spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) is None
    assert _ckpt_dirs() - before == set()


def test_drain_keeps_a_callers_checkpoint_manager(spark, tmp_path):
    from graphsense_datafeed_spark.streaming.windows import (
        _CHECKPOINT_MANAGER_KEY,
        drain_stream,
    )

    mine = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    spark.conf.set(_CHECKPOINT_MANAGER_KEY, mine)
    try:
        q = drain_stream(
            spark,
            _rows_frame(spark, tmp_path).writeStream.format("noop")
            .trigger(availableNow=True),
        )
        assert _file_manager(q) == mine
        assert spark.conf.get(_CHECKPOINT_MANAGER_KEY) == mine
    finally:
        spark.conf.unset(_CHECKPOINT_MANAGER_KEY)


def test_hdfs_checkpoint_is_not_local(spark):
    """Locality is judged from the path and fs.defaultFS alone, so an
    HDFS checkpoint keeps FileContext without any HDFS contact."""
    from graphsense_datafeed_spark.streaming.windows import is_local_checkpoint

    assert not is_local_checkpoint(spark, "hdfs://namenode:8020/ckpt/q1")
    assert is_local_checkpoint(spark, "file:/tmp/ckpt/q1")
    assert is_local_checkpoint(spark, "/tmp/ckpt/q1")
    spark.conf.set("fs.defaultFS", "hdfs://namenode:8020")
    try:
        assert not is_local_checkpoint(spark, "/tmp/ckpt/q1")
    finally:
        spark.conf.unset("fs.defaultFS")


def test_reorg_daemon_resumes_across_checkpoint_managers(
    spark, tmp_path, monkeypatch
):
    """A checkpoint begun on Spark's default manager (the key unset)
    resumes on the FileSystem manager exactly once: the drained table
    equals the batch ingest of the whole feed."""
    import graphsense_datafeed_spark.streaming.windows as w
    from graphsense_datafeed_spark.ingest.facade import (
        batch_ingest_blocks,
        stream_ingest_blocks,
    )

    feed = str(tmp_path / "feed")
    target = str(tmp_path / "block_table")
    ckpt = str(tmp_path / "ckpt")
    _stage_reorg_feed(feed, upto_file=2)
    monkeypatch.setattr(w, "is_local_checkpoint", lambda spark, path: False)
    stream_ingest_blocks(spark, feed, target, ckpt)
    monkeypatch.undo()
    assert len(_block_table_rows(spark, target)) == 80

    _stage_reorg_feed(feed, upto_file=4)
    stream_ingest_blocks(spark, feed, target, ckpt)
    want = sorted(
        (r["height"], r["block_hash"], r["ingest_seq"])
        for r in batch_ingest_blocks(spark, feed).collect()
    )
    assert _block_table_rows(spark, target) == want
    commits = [n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()]
    assert sorted(commits) == ["0", "1", "2", "3"]


def test_events_stream_dirs_of_same_named_roots_stay_apart(tmp_path, monkeypatch):
    """Two fixture roots with the same basename stage separate stream
    directories, each linking its own events file."""
    from graphsense_datafeed_spark.streaming.windows import _events_stream_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    roots = [tmp_path / side / "sf0.01" for side in ("a", "b")]
    for r in roots:
        r.mkdir(parents=True)
        (r / "events.parquet").write_text(str(r))
    dirs = [_events_stream_dir(str(r)) for r in roots]
    assert dirs[0] != dirs[1]
    for r, d in zip(roots, dirs):
        assert open(os.path.join(d, "events.parquet")).read() == str(r)
