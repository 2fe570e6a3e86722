"""SURVEY §2.9 `stream_stateful` — arbitrary stateful streaming.

The reference daemon's only state is "last ingested height"; the
general form is a per-key state machine evolved by
``applyInPandasWithState`` — here, each user's running event count and
value total, emitted per micro-batch.

Scale notes: state is hash-partitioned by key across executors and
persisted in the checkpointed state store; a GroupStateTimeout evicts
idle keys in production (not set here — the fixture key space is
bounded). Per-key state must stay O(1); accumulating raw events into
state is never acceptable.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.streaming.windows import (
    drain_stream,
    events_state_partitions,
    read_events_stream,
    run_stream_to_memory,
)

_STATE_SCHEMA = "n_events bigint, total_cents bigint"
_OUT_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"


@query(
    "stream_stateful",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, cents-total) state machine. The
    PROGRESSION of state isn't batch-SQL-expressible, but its final
    value is: after the stream drains, each user's state must equal
    the batch aggregate — registered as an exact oracle (round-3
    upgrade from rows-only; a state machine that dropped or
    double-counted a batch would hash-mismatch).
    tests/test_streaming.py additionally asserts state carries across
    micro-batches, which the single-shot oracle cannot see.

    The state fn is a closure so cloudpickle ships it by value —
    executor workers don't have this package on sys.path when the
    driver session was launched elsewhere."""

    def update_user_state(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    s = read_events_stream(spark, sf_dir).select("user_id", "value")
    updated = s.groupBy("user_id").applyInPandasWithState(
        update_user_state,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(
        spark, updated, "update", events_state_partitions(spark, sf_dir)
    )
    # Multiple micro-batches emit one row per (user, batch); the final
    # state per user is the last emission == max n_events.
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_cents")
    )


_TWS_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_cents bigint, n_purchases bigint"
)


def _protobuf_available() -> bool:
    """transformWithStateInPandas speaks protobuf between the JVM and
    its Python state server; this environment ships no google.protobuf
    and installs are off-limits, so the TWS path is gated."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@query(
    "stream_stateful_tws",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user state machine on Spark 4's transformWithStateInPandas —
    the successor API to applyInPandasWithState, with typed composable
    state handles instead of one opaque tuple. Keeps a ValueState of
    (count, cents-total) plus a MapState of per-event_type counts and
    emits the running totals each micro-batch. Exact oracle on the
    DRAINED state (round-3 upgrade from rows-only): final per-user
    totals and purchase counts must equal the batch aggregates; tests
    additionally assert state accumulates across micro-batches.

    GATED: the TWS runtime needs google.protobuf, absent in this
    offline environment (verified: the state-server worker crashes on
    import) — then this falls back to an applyInPandasWithState
    machine computing the identical per-user output, so the registered
    semantics hold either way and the TWS code path activates wherever
    protobuf exists.

    Scale: identical runtime story to applyInPandasWithState (state
    hash-partitioned by key in the checkpointed store, O(1) per key),
    but MapState/ListState update single entries without rewriting the
    whole state value — the difference that matters when per-key state
    is a wide map at 100 TB. Class defined in-function so cloudpickle
    ships it by value to workers."""
    if not _protobuf_available():
        return _stateful_totals_fallback(spark, sf_dir)

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n_events bigint, total_cents bigint"
            )
            self._by_type = handle.getMapState(
                "by_type", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    pdf["value"].mul(100).round().astype("int64").sum()
                )
                for etype, cnt in pdf["event_type"].value_counts().items():
                    prev = (
                        self._by_type.getValue((etype,))[0]
                        if self._by_type.containsKey((etype,))
                        else 0
                    )
                    self._by_type.updateValue((etype,), (prev + int(cnt),))
            self._totals.update((n, cents))
            purchases = (
                self._by_type.getValue(("purchase",))[0]
                if self._by_type.containsKey(("purchase",))
                else 0
            )
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                    "n_purchases": [purchases],
                }
            )

        def close(self) -> None:
            pass

    s = read_events_stream(spark, sf_dir).select("user_id", "event_type", "value")
    updated = s.groupBy("user_id").transformWithStateInPandas(
        UserTotals(),
        outputStructType=_TWS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    out = run_stream_to_memory(
        spark, updated, "update", events_state_partitions(spark, sf_dir)
    )

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_cents", "n_purchases")
    )


def _stateful_totals_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState twin of stream_stateful_tws: same per-user
    (count, cents, purchase-count) machine with the map folded into the
    tuple state — used where the TWS protobuf runtime is unavailable."""

    def update_user_state(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, cents, purchases = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
            purchases += int((pdf["event_type"] == "purchase").sum())
        state.update((n, cents, purchases))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [cents],
                "n_purchases": [purchases],
            }
        )

    s = read_events_stream(spark, sf_dir).select("user_id", "event_type", "value")
    updated = s.groupBy("user_id").applyInPandasWithState(
        update_user_state,
        outputStructType=_TWS_OUT_SCHEMA,
        stateStructType="n_events bigint, total_cents bigint, n_purchases bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(
        spark, updated, "update", events_state_partitions(spark, sf_dir)
    )

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_cents", "n_purchases")
    )


_PM_STATE_SCHEMA = (
    "nc_type string, nc_rn bigint, nc_id bigint, nc_ts_us bigint, rn bigint"
)
_PM_OUT_SCHEMA = (
    "match_id bigint, user_id bigint, start_id bigint, "
    "n_clicks bigint, span_us bigint"
)


@query(
    "stream_pattern_match",
    """
    WITH numbered AS (
        SELECT user_id, event_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), tape AS (
        SELECT user_id, event_id, ts, event_type, rn,
               last_value(CASE WHEN event_type <> 'click'
                               THEN event_type END IGNORE NULLS)
                   OVER w AS prev_nc_type,
               last_value(CASE WHEN event_type <> 'click'
                               THEN rn END IGNORE NULLS)
                   OVER w AS prev_nc_rn,
               last_value(CASE WHEN event_type <> 'click'
                               THEN event_id END IGNORE NULLS)
                   OVER w AS prev_nc_id,
               last_value(CASE WHEN event_type <> 'click'
                               THEN ts END IGNORE NULLS)
                   OVER w AS prev_nc_ts
        FROM numbered
        WINDOW w AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS match_id, user_id,
           prev_nc_id AS start_id,
           CAST(rn - prev_nc_rn - 1 AS BIGINT) AS n_clicks,
           CAST(epoch_us(ts) - epoch_us(prev_nc_ts) AS BIGINT) AS span_us
    FROM tape
    WHERE event_type = 'purchase' AND prev_nc_type = 'view'
    """,
)
def stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING variable-length pattern match (round 6) — the
    ``view click* purchase`` matcher of win_pattern_match_var run as a
    per-key state machine: the whole carried context is FOUR scalars
    per user (last non-click row's type/position/id/ts plus the row
    counter), evolved by ``applyInPandasWithState`` and emitting a
    match row the moment its purchase arrives — O(1) state per key,
    never a buffered B*-run, which is exactly why the sessionize-fold
    formulation (not a lag tape) is the one that streams.

    The drained availableNow run must emit PRECISELY the batch
    operator's match set — registered as the identical exact oracle
    (the same SQL as win_pattern_match_var), so a state machine that
    lost a carried view across micro-batches, double-emitted, or
    mis-counted clicks hash-mismatches.  Rows within a batch are
    sorted (ts, event_id) inside the fold; batches arrive in file
    order, which the staged stream source keeps time-ordered (the
    stream_stateful contract).

    Scale: state is hash-partitioned by user across executors in the
    checkpointed store; production adds a GroupStateTimeout to evict
    idle users (bounded fixture keys here)."""

    def update_pattern_state(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        nc_type, nc_rn, nc_id, nc_ts, rn = (
            state.get if state.exists else (None, None, None, None, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
            out = {
                "match_id": [],
                "user_id": [],
                "start_id": [],
                "n_clicks": [],
                "span_us": [],
            }
            ts_us = batch["ts"].astype("int64") // 1000
            for et, eid, t_us in zip(
                batch["event_type"], batch["event_id"], ts_us
            ):
                rn += 1
                if et == "purchase" and nc_type == "view":
                    out["match_id"].append(int(eid))
                    out["user_id"].append(int(key[0]))
                    out["start_id"].append(int(nc_id))
                    out["n_clicks"].append(rn - nc_rn - 1)
                    out["span_us"].append(int(t_us) - nc_ts)
                if et != "click":
                    nc_type, nc_rn, nc_id, nc_ts = (
                        et,
                        rn,
                        int(eid),
                        int(t_us),
                    )
            state.update((nc_type, nc_rn, nc_id, nc_ts, rn))
            if out["match_id"]:
                yield pd.DataFrame(out)
        else:
            state.update((nc_type, nc_rn, nc_id, nc_ts, rn))

    s = read_events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    updated = s.groupBy("user_id").applyInPandasWithState(
        update_pattern_state,
        outputStructType=_PM_OUT_SCHEMA,
        stateStructType=_PM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_stream_to_memory(
        spark, updated, "append", events_state_partitions(spark, sf_dir)
    )


@query(
    "stream_cdc_apply",
    """
    WITH base AS (
        SELECT c_custkey AS key, c_name AS name,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
               c_custkey % 10 AS m
        FROM customer
    )
    SELECT key, name,
           CAST(cents + CASE WHEN m IN (1, 2) THEN 10000 ELSE 0 END
                AS BIGINT) AS cents
    FROM base WHERE m <> 0
    UNION ALL
    SELECT key + 1000000 AS key, name, CAST(cents + 5000 AS BIGINT) AS cents
    FROM base WHERE m = 3
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC apply (round 6): a change feed of
    insert/update/delete rows, arriving as micro-batches, folded into
    a snapshot table via foreachBatch — the lakehouse ingestion loop
    batch_merge_upsert runs once and CDC runs forever.  Apply rule per
    batch: any changed key's old row is retired (anti-join), then the
    batch's upserts (U full new row, I new key) append — so deletes,
    updates and inserts are all one shape, and key-disjoint changes
    commute across batch boundaries (the property that makes the
    result split-invariant, which the oracle then certifies).

    The feed derives deterministically from the customer dim
    (key%10: 0→delete, 1/2→update +100.00, 3→insert key+1e6), split
    into three mtime-ordered files so availableNow really runs three
    merge batches; state versions land as parquet snapshots with a
    pointer file committed LAST (the sink_manifest_commit discipline —
    a crash between batches leaves the previous state readable).  The
    drained final state must equal the relational CASE over the dim:
    a merge that loses a delete, double-applies an update across
    batches, or re-reads its own write hash-mismatches.

    Scale: each batch's merge shuffles on the table key only
    (changes ≪ table broadcast to the anti-join); state versions are
    the table-format snapshot chain, vacuumed by retention exactly
    like sink_manifest_vacuum."""
    import glob
    import json
    import os
    import shutil

    import pyspark.sql.functions as F

    from graphsense_datafeed_spark.sources.tables import (
        load,
        staged_source_dir,
    )

    base_dir = staged_source_dir(sf_dir, "gds_cdc_apply", "customer")
    final_marker = os.path.join(base_dir, "FINAL")
    if not os.path.exists(final_marker):
        shutil.rmtree(base_dir, ignore_errors=True)
        feed_dir = os.path.join(base_dir, "feed")
        state_dir = os.path.join(base_dir, "state")
        os.makedirs(feed_dir)
        os.makedirs(state_dir)
        cust = load(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
            (F.col("c_custkey") % 10).alias("m"),
        )
        # state v0 = the base snapshot
        cust.select("key", "name", "cents").write.parquet(
            os.path.join(state_dir, "v0")
        )
        pointer = os.path.join(base_dir, "STATE_CURRENT")
        with open(pointer + ".tmp", "w") as fh:
            fh.write("v0")
        os.rename(pointer + ".tmp", pointer)
        # deterministic change feed: D / U / I rows
        changes = (
            cust.filter(F.col("m") == 0)
            .select("key", "name", "cents", F.lit("D").alias("op"))
            .unionAll(
                cust.filter(F.col("m").isin(1, 2)).select(
                    "key",
                    "name",
                    (F.col("cents") + 10000).alias("cents"),
                    F.lit("U").alias("op"),
                )
            )
            .unionAll(
                cust.filter(F.col("m") == 3).select(
                    (F.col("key") + 1000000).alias("key"),
                    "name",
                    (F.col("cents") + 5000).alias("cents"),
                    F.lit("I").alias("op"),
                )
            )
        )
        for i in range(3):
            stage = os.path.join(base_dir, f"_feedstage_{i}")
            changes.filter(F.col("key") % 3 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dest = os.path.join(feed_dir, f"chunk_{i}.parquet")
            shutil.move(part, dest)
            shutil.rmtree(stage)
            os.utime(dest, (3_000_000 + i * 1000, 3_000_000 + i * 1000))

        def apply_batch(batch_df, batch_id):
            with open(pointer) as fh:
                cur = fh.read().strip()
            state = spark.read.parquet(os.path.join(state_dir, cur))
            changed_keys = batch_df.select("key").distinct()
            upserts = batch_df.filter(F.col("op") != "D").select(
                "key", "name", "cents"
            )
            new_state = state.join(changed_keys, "key", "left_anti").unionAll(
                upserts
            )
            new_ver = f"v{batch_id + 1}"
            new_state.write.mode("overwrite").parquet(
                os.path.join(state_dir, new_ver)
            )
            tmp = pointer + f".tmp{batch_id}"
            with open(tmp, "w") as fh:
                fh.write(new_ver)
            os.rename(tmp, pointer)

        drain_stream(
            spark,
            spark.readStream.schema(
                "key bigint, name string, cents bigint, op string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
            .writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True),
            os.path.join(base_dir, "ckpt"),
        )
        with open(final_marker + ".tmp", "w") as fh:
            with open(pointer) as p:
                fh.write(p.read())
        os.rename(final_marker + ".tmp", final_marker)
    with open(final_marker) as fh:
        final_ver = fh.read().strip()
    return spark.read.parquet(
        os.path.join(base_dir, "state", final_ver)
    )
