"""Round-16 optimization referees.

Each test pins the CORRECTNESS contract of an operator whose internals
changed in the round-16 optimization pass — the optimization is only
allowed to change the plan, never the rows.
"""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from graphsense_datafeed_spark import registry


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestLabelPropagateHubSalting:
    """Round-16 skew mitigation (guide §2.5): a hub dst holding ~half
    of all edges must trigger the salted adjacency layout, and the
    salted rounds must produce labels BIT-IDENTICAL to the monotone
    min-label fixpoint (computed here by a plain python union-find)."""

    def _skewed_sym(self, spark):
        # star core: node "hub" connected to 600 spokes (so dst="hub"
        # holds ~half the symmetric edge rows), plus a disjoint chain
        # of 30 nodes and a few isolated pairs.
        edges = [("s%03d" % i, "hub") for i in range(600)]
        edges += [("c%02d" % i, "c%02d" % (i + 1)) for i in range(30)]
        edges += [("p0", "p1"), ("q0", "q1")]
        sym_rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        return spark.createDataFrame(sym_rows, "src string, dst string"), edges

    def _expected_components(self, edges):
        import pyspark.sql.functions as F  # noqa: F401 (parity import)

        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra

        for a, b in edges:
            union(a, b)
        return {n: find(n) for n in parent}

    def test_salting_fires_and_labels_match_fixpoint(self, spark, monkeypatch):
        import graphsense_datafeed_spark.ingest.facade as facade
        import graphsense_datafeed_spark.ingest.iterate as iterate

        # the census is size-gated (it only pays off once a dst can
        # dominate a full 2M-row partition) — force it on for the
        # planted fixture
        monkeypatch.setattr(iterate, "HUB_CENSUS_MIN_ROWS", 0)
        sym, edges = self._skewed_sym(spark)
        nodes = sym.select(F.col("src").alias("addr")).distinct()
        labels = nodes.select(
            "addr", F.xxhash64("addr").alias("label")
        ).localCheckpoint()
        # seed label per node, as the callers build it
        run = facade.label_propagate(
            sym, labels, max_iter=50, require_converged=True
        )
        out = run.state
        # (1) the census fired on the planted hub
        assert "hub" in run.hubs, run.hubs
        # (2) labels == the min-xxhash64 of each node's component
        got = {r["addr"]: r["label"] for r in out.collect()}
        seeds = {
            r["addr"]: r["label"]
            for r in nodes.select(
                "addr", F.xxhash64("addr").alias("label")
            ).collect()
        }
        comp = self._expected_components(edges)
        want = {}
        by_root: dict = {}
        for n, root in comp.items():
            by_root.setdefault(root, []).append(n)
        for root, members in by_root.items():
            m = min(seeds[n] for n in members)
            for n in members:
                want[n] = m
        assert got == want

    def test_unsalted_path_untouched_on_uniform_graph(self, spark):
        import graphsense_datafeed_spark.ingest.facade as facade

        edges = [("a%02d" % i, "a%02d" % (i + 1)) for i in range(20)]
        sym_rows = edges + [(b, a) for a, b in edges]
        sym = spark.createDataFrame(sym_rows, "src string, dst string")
        nodes = sym.select(F.col("src").alias("addr")).distinct()
        labels = nodes.select(
            "addr", F.xxhash64("addr").alias("label")
        ).localCheckpoint()
        run = facade.label_propagate(
            sym, labels, max_iter=50, require_converged=True
        )
        out = run.state
        assert run.hubs == []
        # one component: every label equals the global min seed
        vals = {r["label"] for r in out.collect()}
        assert len(vals) == 1

    def test_odd_max_iter_rejected(self, spark):
        import graphsense_datafeed_spark.ingest.facade as facade

        sym = spark.createDataFrame(
            [("a", "b"), ("b", "a")], "src string, dst string"
        )
        labels = (
            sym.select(F.col("src").alias("addr"))
            .distinct()
            .select("addr", F.xxhash64("addr").alias("label"))
            .localCheckpoint()
        )
        # a ValueError, not an assert: the check must survive python -O
        with pytest.raises(ValueError, match="even"):
            facade.label_propagate(sym, labels, max_iter=7)


class TestStreamStatePartitions:
    """Round-16 (VERDICT r15 #7): the streaming state-partition count
    is DERIVED from the measured source size (64 MB per partition,
    local floor 8, capped by the session shuffle-partition conf)
    instead of a pinned local constant."""

    def test_derivation_floor_scale_and_cap(self, spark, monkeypatch):
        import graphsense_datafeed_spark.streaming.windows as w

        sizes = {}
        monkeypatch.setattr(
            w.os.path, "getsize", lambda p: sizes[p]
        )
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # fixture-sized input → the measured local floor
        sizes["small"] = 3 * 1024 * 1024
        assert w.stream_state_partitions(spark, "small") == 8
        # mid-size input → ceil(bytes/64MB), still under the cap
        if cap > 8:
            sizes["mid"] = (cap - 1) * 64 * 1024 * 1024
            assert w.stream_state_partitions(spark, "mid") == cap - 1
        # huge input → capped at the session parallelism knob
        sizes["huge"] = 10 * 1024**4
        assert w.stream_state_partitions(spark, "huge") == max(8, cap)
        # unreadable source → floor, never a crash
        def boom(p):
            raise OSError(p)

        monkeypatch.setattr(w.os.path, "getsize", boom)
        assert w.stream_state_partitions(spark, "gone") == 8

    def test_directory_source_sums_member_files(self, spark, tmp_path):
        """A multi-file parquet source is a directory: its size is the
        sum of its member files, not the directory entry's."""
        import os

        import graphsense_datafeed_spark.streaming.windows as w

        src = tmp_path / "events.parquet"
        src.mkdir()
        for i in range(2):  # sparse: no disk blocks are written
            with open(src / f"part-{i}.parquet", "wb") as fh:
                fh.truncate(600 * 1024 * 1024)
        assert os.path.getsize(src) < 64 * 1024 * 1024
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        try:
            assert w.stream_state_partitions(spark, str(src)) == 19
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def test_events_stream_count_is_passed(self, spark, sf_dir):
        """The events count is sized for the runner, not stashed on the
        session where a later stream would inherit it."""
        import graphsense_datafeed_spark.streaming.windows as w

        w.read_events_stream(spark, sf_dir)
        assert spark.conf.get("gds.stream.statePartitions", None) is None
        assert w.events_state_partitions(spark, sf_dir) == 8


class TestUdtfGroupedMapCarry:
    """udtf_grouped_map moved from one-Python-call-per-group
    applyInPandas to a sorted-stream mapInPandas that carries the
    batch-straddling group's running count.  The carry is the risky
    part: force TINY Arrow batches so every partition splits groups
    across many batches, and compare against the JVM window oracle."""

    def test_matches_window_oracle_under_tiny_batches(self, spark, sf_dir):
        from graphsense_datafeed_spark.functions.udfs import udtf_grouped_map
        from graphsense_datafeed_spark.sources.tables import load

        prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        try:
            got = _rows(udtf_grouped_map(spark, sf_dir))
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

        ev = load(spark, sf_dir, "events").select(
            "user_id", "event_id", "event_type"
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = _rows(
            ev.select(
                "user_id",
                "event_id",
                F.sum((F.col("event_type") == "purchase").cast("bigint"))
                .over(w)
                .cast("bigint")
                .alias("purchases_so_far"),
            )
        )
        assert got == want

    def test_null_user_ids_match_duckdb_oracle(self, spark, sf_dir, tmp_path):
        """Null keys form one group in the oracle's PARTITION BY.  With
        tiny Arrow batches the null run spans many batches, so the carry
        must compare keys null-safely and the grouping must keep nulls."""
        import duckdb
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from graphsense_datafeed_spark.functions.udfs import udtf_grouped_map

        t = pq.read_table(f"{sf_dir}/events.parquet")
        uid = t["user_id"]
        # every user id divisible by 4 becomes null: one null group
        nulled = pc.if_else(
            pc.equal(pc.bit_wise_and(uid, 3), 0), pa.scalar(None, uid.type), uid
        )
        t = t.set_column(t.schema.get_field_index("user_id"), "user_id", nulled)
        assert t["user_id"].null_count > 3 * 7  # spans several 7-row batches
        pq.write_table(t, tmp_path / "events.parquet")

        prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        try:
            got = udtf_grouped_map(spark, str(tmp_path)).collect()
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

        con = duckdb.connect()
        con.sql(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'events.parquet'}')"
        )
        want = con.sql(registry.ORACLES["udtf_grouped_map"]).fetchall()
        con.close()

        def key(r):
            return tuple((v is None, v) for v in r)

        cols = ("user_id", "event_id", "purchases_so_far")
        assert sorted((tuple(r[c] for c in cols) for r in got), key=key) == sorted(
            want, key=key
        )
