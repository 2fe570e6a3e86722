"""M6 — the ingestion facade: the reference's actual capability as one
DataFrame program (SURVEY §3.2-3).

The datafeed's pipeline — fetch block JSON → parse → normalize →
denormalize tx inputs/outputs → aggregate summaries → upsert — becomes
``scan_json → cast_types/project → arr_explode → dedup_keys →
agg_global → sink_*``. The fetch loop, thread pool, retry/batching and
statement management of the reference have no counterpart: Spark's
scheduler and the sink own them (SURVEY §3.3).

Scale notes:
- One block JSON ≈ KBs; at 100 TB the scan parallelizes by file/split
  and everything downstream is narrow until the per-address aggregate,
  whose shuffle key (address) is the natural Cassandra partition key —
  co-partitioned write.
- Explodes multiply rows (≈ tx_outputs per block) BEFORE any shuffle;
  the projection keeps only (height, tx_hash, address, value) so the
  blow-up carries ~40 bytes/row.
- Re-ingest idempotency = newest-wins dedup on the PK (win_topk k=1
  shape) + idempotent sink write — the reorg story without any
  bookkeeping table.
"""

from __future__ import annotations

import os
from dataclasses import replace

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession, Window

from graphsense_datafeed_spark.functions.hashing import md5_int
from graphsense_datafeed_spark.ingest.iterate import (
    checkpoint,
    iterate,
    materialize,
    unrolled_cte,
)
from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.sources.scans import (
    BLOCKS_JSONL,
    RATES_CSV,
    read_blocks_json,
    read_rates_csv,
)
from graphsense_datafeed_spark.sources.sinks import Sink

_DUCK_TX = (
    "STRUCT(tx_hash VARCHAR, coinbase BOOLEAN, total_input BIGINT, "
    "total_output BIGINT, inputs STRUCT(address VARCHAR[], value BIGINT)[], "
    "outputs STRUCT(address VARCHAR[], value BIGINT)[])[]"
)
def _duck_blocks_sql(path: str) -> str:
    """DuckDB typed-read expression for one currency's block feed."""
    return (
        f"read_json('{path}', format='newline_delimited', "
        "columns={'height':'BIGINT','block_hash':'VARCHAR','timestamp':'BIGINT',"
        f"'no_transactions':'BIGINT','txs':\"{_DUCK_TX}\"}})"
    )


_DUCK_BLOCKS = _duck_blocks_sql(BLOCKS_JSONL)


def raw_keyspace(currency: str) -> str:
    """Keyspace name for a currency's raw tables (btc → btc_raw),
    mirroring the reference's one-keyspace-per-currency deployment."""
    from graphsense_datafeed_spark.ingest.genfixtures import CURRENCIES

    return CURRENCIES[currency].keyspace


def normalize_blocks(raw: DataFrame) -> DataFrame:
    """Parse/normalize stage: typed block rows + derived timestamp."""
    return raw.select(
        "height",
        "block_hash",
        F.timestamp_seconds("timestamp").cast("timestamp_ntz").alias("block_ts"),
        F.to_date(F.timestamp_seconds("timestamp").cast("timestamp_ntz")).alias(
            "block_date"
        ),
        "no_transactions",
        "txs",
    )


def explode_transactions(blocks: DataFrame) -> DataFrame:
    """Denormalize stage 1: one row per transaction."""
    return blocks.select(
        "height", "block_date", F.explode("txs").alias("tx")
    ).select(
        "height",
        "block_date",
        F.col("tx.tx_hash").alias("tx_hash"),
        F.col("tx.coinbase").alias("coinbase"),
        F.col("tx.total_input").alias("total_input"),
        F.col("tx.total_output").alias("total_output"),
        F.col("tx.outputs").alias("outputs"),
    )


def explode_outputs(txs: DataFrame) -> DataFrame:
    """Denormalize stage 2 — THE datafeed shape: one row per tx output
    (address, satoshi value)."""
    return txs.select(
        "height",
        "tx_hash",
        F.posexplode("outputs").alias("out_idx", "out"),
    ).select(
        "height",
        "tx_hash",
        F.col("out_idx").cast("int").alias("out_idx"),
        F.col("out.address")[0].alias("address"),
        F.col("out.value").alias("value_satoshi"),
    )


def ingest(
    spark: SparkSession,
    sink: Sink,
    json_path: str | None = None,
    currency: str = "btc",
) -> dict[str, DataFrame]:
    """Full-sync entry point: raw block JSON → normalized tables →
    sink. Returns the table DataFrames (lazily; sink.write triggers).

    PER-CURRENCY KEYSPACES: the reference runs one datafeed instance
    per currency, each into its own raw keyspace (btc_raw, ltc_raw —
    SURVEY §1.1).  ``currency`` selects the feed (fixtures registry in
    genfixtures.CURRENCIES) when ``json_path`` is not given; the sink
    is constructed per keyspace by the caller (CassandraSink(keyspace=
    raw_keyspace(currency)), ParquetSink(base_dir=<dir>/<keyspace>)) so
    table names stay identical across currencies and isolation lives
    where the reference puts it — in the keyspace, not the table."""
    if json_path is None:
        from graphsense_datafeed_spark.sources.scans import currency_feed

        json_path, _ = currency_feed(currency)
    raw = read_blocks_json(spark, json_path)
    blocks = normalize_blocks(raw)
    txs = explode_transactions(blocks)
    outputs = explode_outputs(txs)
    address_totals = (
        outputs.groupBy("address")
        .agg(
            F.count("*").alias("n_outputs"),
            F.sum("value_satoshi").alias("total_received"),
        )
    )
    summary = blocks.agg(
        F.count("*").alias("no_blocks"),
        F.sum("no_transactions").alias("no_transactions"),
        F.max("block_ts").alias("last_ts"),
    )
    tables = {
        "block": blocks.drop("txs"),
        "transaction": txs.drop("outputs"),
        "tx_output": outputs,
        "address_totals": address_totals,
        "summary_statistics": summary,
    }
    keys = {
        "block": ["height"],
        "transaction": ["tx_hash"],
        "tx_output": ["tx_hash", "out_idx"],
        "address_totals": ["address"],
        "summary_statistics": [],
    }
    for name, df in tables.items():
        sink.write(df, name, keys[name])
    return tables


BLOCK_FEED_SCHEMA = (
    "height bigint, block_hash string, timestamp bigint, "
    "no_transactions bigint, ingest_seq bigint"
)


def stream_ingest_blocks(
    spark: SparkSession,
    feed_dir: str,
    target_dir: str,
    ckpt_dir: str,
    bucket: int = 50,
    max_files_per_trigger: int = 1,
) -> None:
    """The streaming block-ingest daemon with REORG handling — the
    reference's long-running mode: a file-source micro-batch stream
    over arriving block-header JSON, folded into a height-keyed
    parquet table where competing blocks at an already-ingested height
    resolve newest-ingest-wins (the re-ingest rule ingest_reorg_detect
    elects offline).

    Per micro-batch: the batch's heights map to height buckets
    (``height DIV bucket``); the winners for AFFECTED buckets are
    recomputed from existing-rows ∪ batch (row_number over ingest_seq
    desc per height) and written back via DYNAMIC partition overwrite —
    so a reorg of depth d rewrites O(d/bucket + 1) directories, never
    the table (the sink_partitioned_overwrite discipline, driven by a
    stream).  The checkpoint makes file delivery exactly-once: a
    daemon restart mid-feed resumes without double-applying a batch
    (soaked in tests/test_streaming.py).

    Two jobs per micro-batch:
    1. the probe — a no-op pass over the batch whose Observation
       returns the affected buckets (``collect_set(hbucket)``);
    2. the upsert — the existing rows are read from the
       ``hbucket=<b>`` directories of those buckets only, with the
       known schema (no inference, no listing of the table), unioned
       with the batch, coalesced to ONE partition and ranked; a single
       partition already satisfies the window's clustering, so the
       window and the write run as one job with no exchange.

    The single partition is safe at any chain length: a batch holds
    its triggered headers plus at most one winner row per height of
    its affected buckets (≤ ``bucket`` rows each), so its size is set
    by the trigger and ``bucket``, never by the table.  The overwrite
    mode rides on the write itself, so the session's other writers
    keep their static default."""
    existing_schema = BLOCK_FEED_SCHEMA + ", hbucket bigint"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.withColumn(
            "hbucket", F.expr(f"height DIV {bucket}")
        )
        probe = Observation()
        (
            batch.observe(probe, F.collect_set("hbucket").alias("buckets"))
            .write.format("noop").mode("overwrite").save()
        )
        buckets = probe.get["buckets"]
        if not buckets:
            return
        paths = [
            p
            for p in (os.path.join(target_dir, f"hbucket={b}") for b in buckets)
            if os.path.isdir(p)
        ]
        merged = batch
        if paths:
            existing = (
                spark.read.schema(existing_schema)
                .option("basePath", target_dir)
                .parquet(*paths)
            )
            merged = batch.unionByName(existing)
        w = Window.partitionBy("height").orderBy(F.col("ingest_seq").desc())
        winners = (
            merged.coalesce(1)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .drop("rnk")
        )
        (
            winners.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("hbucket")
            .parquet(target_dir)
        )

    from graphsense_datafeed_spark.streaming.windows import drain_stream

    drain_stream(
        spark,
        spark.readStream.schema(BLOCK_FEED_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(feed_dir)
        .writeStream.foreachBatch(upsert)
        .trigger(availableNow=True),
        ckpt_dir,
    )


def batch_ingest_blocks(spark: SparkSession, feed_dir: str) -> DataFrame:
    """The batch-equivalence referee for stream_ingest_blocks: read the
    ENTIRE feed at once and apply the same newest-ingest-wins rule
    globally.  A correct daemon's drained table equals this exactly."""
    feed = spark.read.schema(BLOCK_FEED_SCHEMA).json(feed_dir)
    w = Window.partitionBy("height").orderBy(F.col("ingest_seq").desc())
    return (
        feed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .drop("rnk")
    )


def _multi_currency_oracle_sql() -> str:
    """Per-keyspace rollup over EVERY registered currency feed — the
    UNION ALL of one typed read_json per chain, tagged with the
    currency and keyspace literals."""
    from graphsense_datafeed_spark.ingest.genfixtures import CURRENCIES
    from graphsense_datafeed_spark.sources.scans import currency_feed

    parts = []
    for cur, spec in sorted(CURRENCIES.items()):
        blocks_path, _rates = currency_feed(cur)
        parts.append(
            f"""
    SELECT '{cur}' AS currency, '{spec.keyspace}' AS keyspace,
           CAST(COUNT(*) AS BIGINT) AS no_blocks,
           CAST(SUM(no_transactions) AS BIGINT) AS no_transactions,
           CAST(SUM(list_sum(list_transform(txs, t -> (t).total_output)))
                AS BIGINT) AS total_output_satoshi,
           CAST(MAX(height) AS BIGINT) AS last_height
    FROM {_duck_blocks_sql(blocks_path)}"""
        )
    return " UNION ALL ".join(parts)


@query("ingest_multi_currency", _multi_currency_oracle_sql())
def ingest_multi_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-currency keyspace summary (round 9) — the multi-keyspace
    deployment seam made driver-visible: one typed scan per registered
    currency feed (genfixtures.CURRENCIES), each tagged with its
    currency + raw keyspace name, rolled up to the summary_statistics
    shape (block count, tx count, total output mass, chain tip).

    The per-block tx mass is an ARRAY AGGREGATE (F.aggregate over the
    txs array) — no explode, so each feed contributes exactly one
    narrow scan + one 1-row aggregate and the union stays
    O(#currencies) rows.  At 100 TB each keyspace is its own feed
    directory; the scans parallelize independently and the union is a
    metadata no-op."""
    dfs = []
    from graphsense_datafeed_spark.ingest.genfixtures import CURRENCIES
    from graphsense_datafeed_spark.sources.scans import currency_feed

    for cur, spec in sorted(CURRENCIES.items()):
        blocks_path, _rates = currency_feed(cur)
        raw = read_blocks_json(spark, blocks_path)
        dfs.append(
            raw.agg(
                F.count("*").cast("bigint").alias("no_blocks"),
                F.sum("no_transactions").cast("bigint").alias("no_transactions"),
                F.sum(
                    F.aggregate(
                        "txs",
                        F.lit(0).cast("bigint"),
                        lambda acc, t: acc + t["total_output"],
                    )
                )
                .cast("bigint")
                .alias("total_output_satoshi"),
                F.max("height").cast("bigint").alias("last_height"),
            ).select(
                F.lit(cur).alias("currency"),
                F.lit(spec.keyspace).alias("keyspace"),
                "no_blocks",
                "no_transactions",
                "total_output_satoshi",
                "last_height",
            )
        )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionAll(d)
    return out


@query(
    "ingest_blocks",
    f"""
    SELECT height, block_hash,
           make_timestamp(timestamp * 1000000) AS block_ts,
           CAST(make_timestamp(timestamp * 1000000) AS DATE) AS block_date,
           no_transactions
    FROM {_DUCK_BLOCKS}
    """,
)
def ingest_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1: parse+normalize block headers ([REF] fetch/parse)."""
    return normalize_blocks(read_blocks_json(spark)).drop("txs")


@query(
    "ingest_tx_explode",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT height, (tx).tx_hash AS tx_hash,
               unnest((tx).outputs) AS o,
               generate_subscripts((tx).outputs, 1) - 1 AS out_idx
        FROM txr
    )
    SELECT height, tx_hash, CAST(out_idx AS INT) AS out_idx,
           (o).address[1] AS address, (o).value AS value_satoshi
    FROM outs
    """,
)
def ingest_tx_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages 2-3: the double denormalization blocks→txs→outputs —
    the reference's signature list<frozen<tx_io>> flattening."""
    return explode_outputs(explode_transactions(normalize_blocks(read_blocks_json(spark))))


@query(
    "ingest_address_totals",
    f"""
    WITH txr AS (
        SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT unnest((tx).outputs) AS o FROM txr
    )
    SELECT (o).address[1] AS address,
           COUNT(*) AS n_outputs,
           CAST(SUM((o).value) AS BIGINT) AS total_received
    FROM outs GROUP BY 1
    """,
)
def ingest_address_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-address satoshi totals — integer money end to end (the
    reference's bigint-satoshi discipline; SURVEY §1.3), so sums are
    exact at any scale and the aggregate partial-combines."""
    outputs = explode_outputs(
        explode_transactions(normalize_blocks(read_blocks_json(spark)))
    )
    return outputs.groupBy("address").agg(
        F.count("*").alias("n_outputs"),
        F.sum("value_satoshi").alias("total_received"),
    )


@query(
    "ingest_summary",
    f"""
    SELECT COUNT(*) AS no_blocks,
           CAST(SUM(no_transactions) AS BIGINT) AS no_transactions,
           MAX(make_timestamp(timestamp * 1000000)) AS last_ts
    FROM {_DUCK_BLOCKS}
    """,
)
def ingest_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] summary_statistics: the global ingest bookkeeping row."""
    return normalize_blocks(read_blocks_json(spark)).agg(
        F.count("*").alias("no_blocks"),
        F.sum("no_transactions").alias("no_transactions"),
        F.max("block_ts").alias("last_ts"),
    )


@query(
    "ingest_rates_join",
    f"""
    SELECT b.height, b.block_date, r.usd,
           CAST(FLOOR(SUM((o).value) / 100000000.0 * r.usd * 100) AS BIGINT)
               AS block_output_usd_cents
    FROM (
        SELECT height, block_date, unnest((tx).outputs) AS o
        FROM (
            SELECT height,
                   CAST(make_timestamp(timestamp * 1000000) AS DATE) AS block_date,
                   unnest(txs) AS tx
            FROM {_DUCK_BLOCKS}
        )
    ) b
    JOIN read_csv('{RATES_CSV}', header=true,
                  columns={{'date':'DATE','usd':'DOUBLE','eur':'DOUBLE'}}) r
      ON b.block_date = r.date
    GROUP BY b.height, b.block_date, r.usd
    """,
)
def ingest_rates_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] the datafeed's one join: fiat rates by date, enriching
    block output totals into USD. The rates dim is KBs forever →
    broadcast; satoshi stays integer until the final fiat conversion."""
    blocks = normalize_blocks(read_blocks_json(spark))
    outputs = explode_transactions(blocks).select(
        "height", "block_date", F.explode("outputs").alias("o")
    )
    rates = read_rates_csv(spark)
    per_block = (
        outputs.join(F.broadcast(rates), outputs.block_date == rates.date)
        .groupBy("height", "block_date", "usd")
        .agg(
            F.floor(
                F.sum("o.value") / 100000000.0 * F.first("usd") * 100
            )
            .cast("bigint")
            .alias("block_output_usd_cents")
        )
    )
    return per_block.select("height", "block_date", "usd", "block_output_usd_cents")


@query(
    "ingest_address_graph",
    f"""
    WITH txio AS (
        SELECT (tx).tx_hash AS tx_hash,
               (tx).inputs AS inputs, (tx).outputs AS outputs
        FROM (SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS})
        WHERE NOT (tx).coinbase
    ), ins AS (
        SELECT tx_hash, (i).address[1] AS src
        FROM (SELECT tx_hash, unnest(inputs) AS i FROM txio)
    ), outs AS (
        SELECT tx_hash, (o).address[1] AS dst, (o).value AS sat
        FROM (SELECT tx_hash, unnest(outputs) AS o FROM txio)
    )
    SELECT src, dst,
           COUNT(*) AS n_edges,
           CAST(SUM(sat) AS BIGINT) AS total_satoshi
    FROM ins JOIN outs USING (tx_hash)
    GROUP BY src, dst
    HAVING COUNT(*) >= 2
    """,
)
def ingest_address_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One step past the datafeed: the address-flow graph the wider
    GraphSense platform derives from the raw keyspace (SURVEY §1.1 —
    raw → transformation → address/entity graph). Edges = (input
    address → output address) pairs co-occurring in a non-coinbase tx,
    weighted by count and satoshi volume.

    Scale: the ins⋈outs join shuffles on tx_hash (bounded fan-out per
    tx), then aggregates on the edge key — the canonical graph-build
    as two relational shuffles, no graph library required. Satoshi
    stays BIGINT → exact at any scale."""
    raw = read_blocks_json(spark)
    txio = (
        raw.select(F.explode("txs").alias("tx"))
        .filter(~F.col("tx.coinbase"))
        .select(
            F.col("tx.tx_hash").alias("tx_hash"),
            F.col("tx.inputs").alias("inputs"),
            F.col("tx.outputs").alias("outputs"),
        )
    )
    ins = txio.select("tx_hash", F.explode("inputs").alias("i")).select(
        "tx_hash", F.col("i.address")[0].alias("src")
    )
    outs = txio.select("tx_hash", F.explode("outputs").alias("o")).select(
        "tx_hash", F.col("o.address")[0].alias("dst"), F.col("o.value").alias("sat")
    )
    return (
        ins.join(outs, "tx_hash")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_edges"), F.sum("sat").alias("total_satoshi"))
        .filter(F.col("n_edges") >= 2)
    )


_DUCK_COMPONENTS = f"""
    WITH RECURSIVE txio AS (
        SELECT (tx).tx_hash AS tx_hash,
               (tx).inputs AS inputs, (tx).outputs AS outputs
        FROM (SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS})
        WHERE NOT (tx).coinbase
    ), base AS (
        SELECT tx_hash, (i).address[1] AS addr
        FROM (SELECT tx_hash, unnest(inputs) AS i FROM txio)
        UNION
        SELECT tx_hash, (o).address[1] AS addr
        FROM (SELECT tx_hash, unnest(outputs) AS o FROM txio)
    ), edges AS (
        SELECT a.addr AS src, b.addr AS dst
        FROM base a JOIN base b USING (tx_hash) WHERE a.addr < b.addr
    ), sym AS (
        SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ), nodes AS (SELECT DISTINCT addr FROM base),
    labels AS (
        SELECT n.addr, least(n.addr, coalesce(min(r.dst), n.addr)) AS label
        FROM nodes n LEFT JOIN reach r ON n.addr = r.src
        GROUP BY n.addr
    )
    SELECT COUNT(*) AS component_size, MIN(addr) AS representative
    FROM labels GROUP BY label
"""


@query("graph_components", _DUCK_COMPONENTS)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the address graph — the iterative
    (beyond-SQL) workload class, Pregel-style in pure DataFrames:
    every vertex starts with its own hash label; each round vertices
    adopt the min label among themselves and their neighbors;
    converged when no label changes. Exact-oracle checked: DuckDB
    computes the same components via a WITH RECURSIVE reachability
    closure (fine at fixture scale; the closure is quadratic per
    component, which is WHY the engine side iterates instead);
    also cross-checked against a driver-side union-find in
    tests/test_llm.py.

    Scale: each round = one edge⋈label join + a min-aggregate (two
    shuffles); rounds ≤ graph diameter. The production version
    checkpoints labels every few rounds to cut lineage and uses
    large-star/small-star to reduce rounds — noted, not needed at
    fixture diameter. The loop is driver-side CONTROL FLOW only; all
    data stays on executors (the changed count observed on each
    checkpoint is the convergence check)."""
    # co-spend edges: addresses appearing in the same tx (either side)
    edges = cooccurrence_edges(spark)
    # undirected: propagate both ways
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # materialized once: the initial labels feed both the adjacency's
    # self-loops and round 1's state in label_propagate
    labels = (
        _tx_addresses(spark)
        .select("addr")
        .distinct()
        .select("addr", F.xxhash64("addr").alias("label"))
        .transform(materialize)
    )
    labels = label_propagate(
        sym, labels, max_iter=50, require_converged=True
    ).state
    return labels.groupBy("label").agg(
        F.count("*").alias("component_size"),
        F.min("addr").alias("representative"),
    ).select("component_size", "representative")


def label_propagate(sym, labels, max_iter: int = 20, require_converged: bool = False):
    """Min-label propagation with convergence early-exit, on the
    ``iterate`` primitive (ingest/iterate.py).

    The adjacency is ``sym`` widened with one self-loop per labelled
    node, cached ONCE (joined on ``dst``, hub-salted when skewed).
    Each round is a single join + a single min-aggregate on src: the
    self-loop row carries the node's OWN label through the same
    aggregate, so ``min(label)`` over the group IS the new label
    (``least(own, neighbor-min)``), and srcs outside the label set (no
    self-loop ⇒ own IS NULL) are dropped.  Only the |V|-row label
    frame moves per round, never the edge set.

    Rounds run in PAIRS per checkpoint (no scalar read back feeds the
    next round): the fixpoint is unique, so the labels are bit-identical to
    the one-round-per-job form, and convergence detected on the pair's
    second round alone is exact because labels only decrease (changed
    ⟺ new < own).  The changed count is an Observation on the pair's
    checkpoint job: a pair is three jobs on small graphs (two label
    broadcasts, the checkpoint) and five on large ones (two label and
    two aggregate exchanges, the checkpoint), with no convergence
    probe.  ``max_iter`` bounds the ROUND count and must be even
    (ValueError otherwise).

    ``require_converged=True`` raises RuntimeError if the bound is hit
    with labels still changing — callers whose oracle is a FULL
    transitive closure (dedup_clusters, graph_components) must fail
    loudly rather than hand back unconverged labels that silently
    hash-mismatch.  Skew referee: tests/test_round16_ops.py.

    Returns the ``Iteration`` record: ``state`` = (addr, label),
    ``rounds_run``, and the salted ``hubs``.
    """
    adjacency = sym.select("src", "dst").unionAll(
        labels.select(F.col("addr").alias("src"), F.col("addr").alias("dst"))
    )

    def step(frame, adj, prev, r):
        joined = adj.join(frame.select("addr", "label"), "addr")
        return (
            joined.groupBy("src")
            .agg(
                F.min("label").alias("new_label"),
                F.min(
                    F.when(F.col("dst") == F.col("src"), F.col("label"))
                ).alias("own"),
            )
            .filter(F.col("own").isNotNull())
            .select(
                F.col("src").alias("addr"),
                F.col("new_label").alias("label"),
                (F.col("new_label") < F.col("own")).alias("changed"),
            )
        )

    run = iterate(
        labels,
        step,
        max_iter,
        scalars={"changed": F.count_if(F.col("changed"))},
        until=lambda seen: seen["changed"] == 0,
        adjacency=adjacency,
        key="dst",
        to="src",
        salt_on="src",
        pairs=True,
        require_converged=require_converged,
    )
    return replace(run, state=run.state.select("addr", "label"))


@query(
    "scan_json_corrupt",
    f"""
    SELECT height, block_hash, no_transactions
    FROM read_json('{BLOCKS_JSONL}', format='newline_delimited',
                   columns={{'height':'BIGINT','block_hash':'VARCHAR',
                             'no_transactions':'BIGINT'}})
    WHERE height IS NOT NULL
    """,
)
def scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input robustness: PERMISSIVE JSON parsing routes bad
    records into a _corrupt_record column instead of failing the job —
    at 1000-executor scale one bad feed line must never kill a sync.
    The fixture feed is clean, so a poisoned copy (2 broken lines) is
    staged alongside it; the oracle reads the CLEAN file and the query
    must recover exactly the clean rows and quarantine the rest."""
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    poisoned = os.path.join(tempfile.gettempdir(), "gds_poisoned.jsonl")
    if not os.path.exists(poisoned):
        with open(BLOCKS_JSONL) as f, open(poisoned + ".tmp", "w") as out:
            out.write('{"height": broken!!\n')
            out.write(f.read())
            out.write("not json at all\n")
        os.rename(poisoned + ".tmp", poisoned)
    schema = StructType(
        [
            StructField("height", LongType()),
            StructField("block_hash", StringType()),
            StructField("no_transactions", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(poisoned)
    )
    return parsed.filter(
        F.col("_corrupt_record").isNull() & F.col("height").isNotNull()
    ).select("height", "block_hash", "no_transactions")


@query(
    "ingest_stream",
    f"""
    SELECT height, block_hash,
           make_timestamp(timestamp * 1000000) AS block_ts,
           CAST(make_timestamp(timestamp * 1000000) AS DATE) AS block_date,
           no_transactions
    FROM {_DUCK_BLOCKS}
    """,
)
def ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's DAEMON entry point end-to-end: tail the block
    feed as a micro-batch stream, run the same normalize pipeline per
    batch, land each batch idempotently through foreachBatch — then
    the landed table must equal the batch ingest (the oracle).

    availableNow here = the bulk/full-sync run; the identical query
    with a continuous trigger is the live daemon (SURVEY §3.2-2)."""
    import tempfile
    import uuid

    from graphsense_datafeed_spark.session import ensure_runtime_confs
    from graphsense_datafeed_spark.streaming.windows import drain_stream

    ensure_runtime_confs(spark)
    # stage the feed file into a tail directory (the "arriving blocks")
    stream_dir = os.path.join(tempfile.gettempdir(), "gds_block_feed")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "blocks.jsonl")
    if not os.path.exists(link):
        os.symlink(BLOCKS_JSONL, link)
    out_dir = os.path.join(
        tempfile.gettempdir(), "gds_ingest_stream", uuid.uuid4().hex[:8]
    )

    from graphsense_datafeed_spark.sources.scans import BLOCK

    raw = spark.readStream.schema(BLOCK).json(stream_dir)
    normalized = normalize_blocks(raw).drop("txs")

    def land(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    drain_stream(
        spark, normalized.writeStream.foreachBatch(land).trigger(availableNow=True)
    )
    return spark.read.parquet(os.path.join(out_dir, "batch=*")).select(
        "height", "block_hash", "block_ts", "block_date", "no_transactions"
    )


@query(
    "stream_rates_upsert",
    f"""
    WITH r AS (
        SELECT * FROM read_csv('{RATES_CSV}', header=true,
                  columns={{'date':'DATE','usd':'DOUBLE','eur':'DOUBLE'}})
    ), rev AS (SELECT date FROM r ORDER BY date LIMIT 5)
    SELECT r.date,
           CASE WHEN r.date IN (SELECT date FROM rev)
                THEN r.usd * 2 ELSE r.usd END AS usd,
           r.eur
    FROM r
    """,
)
def stream_rates_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's periodic exchange-rates daemon (SURVEY §3.1-3)
    as a stream: the rates feed directory is tailed as a micro-batch
    file stream and every batch upserts BY DATE KEY into the rates
    table — a re-fetch of an already-landed date wins over the stale
    row, which is exactly the daemon's refresh contract.

    Mechanics: two staged feed files (the full fetch, then a
    5-date correction with doubled usd) arrive in mtime order —
    maxFilesPerTrigger=1 makes each its own micro-batch — and
    foreachBatch lands them via dynamic partition overwrite keyed on
    date: an idempotent per-key upsert with no bookkeeping table. The
    oracle applies the same correction to the base CSV in SQL, so this
    is an exact hash check of the upsert semantics.

    Scale: the rates table stays KBs forever (one row per day), but
    the same foreachBatch + dynamic-partition-overwrite shape is the
    100 TB block-reingest path (see ``sink_partitioned_overwrite``)."""
    import csv
    import shutil
    import tempfile
    import uuid

    from graphsense_datafeed_spark.streaming.windows import drain_stream

    run = uuid.uuid4().hex[:8]
    feed_dir = os.path.join(tempfile.gettempdir(), "gds_rates_feed", run)
    os.makedirs(feed_dir)
    base = os.path.join(feed_dir, "rates_000.csv")
    shutil.copy(RATES_CSV, base)
    os.utime(base, (1_000_000, 1_000_000))
    with open(RATES_CSV) as f:
        rows = sorted(csv.DictReader(f), key=lambda r: r["date"])
    rev = os.path.join(feed_dir, "rates_001.csv")
    with open(rev, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["date", "usd", "eur"])
        for r in rows[:5]:
            w.writerow([r["date"], repr(float(r["usd"]) * 2), r["eur"]])
    os.utime(rev, (2_000_000, 2_000_000))

    target = os.path.join(tempfile.gettempdir(), "gds_rates_table", run)
    stream = (
        spark.readStream.schema("date DATE, usd DOUBLE, eur DOUBLE")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(feed_dir)
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # rates are KBs: pin one file per date dir regardless of how
        # the upstream source happens to be partitioned (a no-op for
        # the single-file CSV batches here, a guard for wider feeds)
        (
            batch_df.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date")
            .parquet(target)
        )

    drain_stream(
        spark, stream.writeStream.foreachBatch(upsert).trigger(availableNow=True)
    )
    return spark.read.parquet(target).select(
        F.col("date").cast("date").alias("date"), "usd", "eur"
    )


@query("sink_cassandra")
def sink_cassandra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pluggable-sink seam (SURVEY §2.1): run the full ingest
    facade through the Sink interface. Offline the ParquetSink stands
    in (no C* server — SURVEY §0.1); CassandraSink carries the real
    connector config and its construction/options are unit-tested.
    Returns the re-read block table (write verified by identity in
    tests; rows-only here)."""
    import tempfile

    out = os.path.join(tempfile.gettempdir(), "gds_ingest_sink")
    from graphsense_datafeed_spark.sources.sinks import ParquetSink

    ingest(spark, ParquetSink(out, partition_col="block_date"))
    back = spark.read.parquet(f"{out}/block")
    return back.select(
        "height", "block_hash", "no_transactions",
        F.col("block_date").cast("date").alias("block_date"),
    )


PAGERANK_SCALE = 10**12


_DUCK_FLOW_GRAPH = f"""
    WITH txio AS (
        SELECT (tx).tx_hash AS tx_hash, (tx).inputs AS inputs,
               (tx).outputs AS outputs
        FROM (SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS})
        WHERE NOT (tx).coinbase
    ), ins AS (
        SELECT tx_hash, (i).address[1] AS src
        FROM (SELECT tx_hash, unnest(inputs) AS i FROM txio)
    ), outs AS (
        SELECT tx_hash, (o).address[1] AS dst
        FROM (SELECT tx_hash, unnest(outputs) AS o FROM txio)
    ), edges AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM ins JOIN outs USING (tx_hash)
        WHERE src <> dst
    ), nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    )"""


def _pagerank_round_sql(i: int, update: str) -> str:
    """Round ``i`` of the unrolled PageRank oracles: in-edge contribs
    and dangling mass of pr{i-1}, then pr{i} by ``update``."""
    return f""", contrib{i} AS MATERIALIZED (
        SELECT e.dst AS node, CAST(SUM(p.r // d.deg) AS BIGINT) AS contrib
        FROM edges e
        JOIN pr{i - 1} p ON p.node = e.src
        JOIN outdeg d ON d.node = e.src
        GROUP BY e.dst
    ), dang{i} AS MATERIALIZED (
        SELECT CAST(COALESCE(SUM(p.r), 0) AS BIGINT) AS d
        FROM pr{i - 1} p LEFT JOIN outdeg o ON o.node = p.node
        WHERE o.node IS NULL
    ), pr{i} AS MATERIALIZED ({update}
    )"""


def _pagerank_oracle_sql(iters: int = 10) -> str:
    """Exact DuckDB oracle for the quantized PageRank: the 10 rounds
    unroll into 10 chained CTE hops (``unrolled_cte``).  Every
    quantity is BIGINT and every division is integer, so the oracle
    reproduces the Spark result bit-for-bit — no float-summation-order
    slack."""
    s = PAGERANK_SCALE
    head = _DUCK_FLOW_GRAPH + f""", nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
    ), outdeg AS MATERIALIZED (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY src
    ), pr0 AS MATERIALIZED (
        SELECT node, CAST({s} // (SELECT n FROM nn) AS BIGINT) AS r
        FROM nodes
    )"""
    return unrolled_cte(
        head,
        lambda i: _pagerank_round_sql(i, f"""
        SELECT n.node,
               CAST(3 * {s} // (20 * (SELECT n FROM nn))
                    + 17 * (COALESCE(c.contrib, 0)
                            + (SELECT d FROM dang{i})
                              // (SELECT n FROM nn)) // 20
                    AS BIGINT) AS r
        FROM nodes n LEFT JOIN contrib{i} c ON c.node = n.node"""),
        iters,
        f"\n    SELECT node AS addr, r AS rank_e12 FROM pr{iters}",
    )


def flow_edges(spark: SparkSession) -> DataFrame:
    """Distinct directed (src, dst) value-flow edges of the address
    graph: every input address of a non-coinbase tx to each of its
    output addresses, self-loops dropped.  The input × output pairs
    are generated inside each tx row (two explodes), not by joining
    exploded inputs to exploded outputs on tx_hash: the same pairs
    whenever a hash names one tx content, minus the join's two
    exchanges."""
    return (
        read_blocks_json(spark)
        .select(F.explode("txs").alias("tx"))
        .filter(~F.col("tx.coinbase"))
        .select(F.explode("tx.inputs").alias("i"), "tx.outputs")
        .select(
            F.col("i.address")[0].alias("src"),
            F.explode("outputs").alias("o"),
        )
        .select("src", F.col("o.address")[0].alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _tx_addresses(spark: SparkSession) -> DataFrame:
    """Distinct (tx_hash, addr): every address a non-coinbase tx
    touches, on either side — the node frame of the co-occurrence
    graph (graph_components labels its nodes from it)."""
    txio = (
        read_blocks_json(spark)
        .select(F.explode("txs").alias("tx"))
        .filter(~F.col("tx.coinbase"))
        .select("tx.tx_hash", "tx.inputs", "tx.outputs")
    )
    ins = txio.select(
        "tx_hash", F.explode("inputs").alias("io")
    ).select("tx_hash", F.col("io.address")[0].alias("addr"))
    outs = txio.select(
        "tx_hash", F.explode("outputs").alias("io")
    ).select("tx_hash", F.col("io.address")[0].alias("addr"))
    return ins.union(outs).distinct()


def cooccurrence_edges(spark: SparkSession) -> DataFrame:
    """(src, dst) with src < dst — distinct address co-occurrence
    edges: two addresses touched by the same non-coinbase tx. The
    lexicographic orientation means each undirected edge appears
    exactly once."""
    base = _tx_addresses(spark)
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, "tx_hash")
        .filter(F.col("a.addr") < F.col("b.addr"))
        .select(F.col("a.addr").alias("src"), F.col("b.addr").alias("dst"))
        .distinct()
    )


@query("graph_pagerank", _pagerank_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the directed address-flow graph — the second
    iterative workload class (power iteration with an L1-delta
    convergence exit, see pagerank_iterate) alongside
    graph_components' label propagation.

    EXACT ORACLE (round 9, retired from rows-only): every per-round
    operation is integer (pagerank_iterate), so the 10-hop unrolled
    DuckDB CTE (_pagerank_oracle_sql) reproduces the distributed
    result bit-for-bit; the e12 quantization error vs true float
    PageRank is ≤ iters·(1+damping)·1e-12 per node — far below any
    ranking use.  tests/test_llm.py cross-checks every rank against a
    numpy integer simulation on the identical edge list.
    Dangling mass (sinks) is spread uniformly every round, so the
    ranks stay a proper distribution — no mass leak."""
    return pagerank_iterate(flow_edges(spark), max_iter=10).state


def pagerank_iterate(edges, max_iter: int = 10, tol: int = 0, teleport=None):
    """Quantized damped power iteration with an L1-delta early-exit,
    on the ``iterate`` primitive (ingest/iterate.py).

    ``edges`` are distinct directed (src, dst) pairs; the nodes are
    their endpoints.  Ranks are bigint e12 units (PAGERANK_SCALE);
    damping 0.85 is the exact rational 17/20, so the per-round update

        share(src)  = rank DIV deg(src)
        contrib(v)  = Σ share over in-edges
        rank'(v)    = 3·S DIV 20n + 17·(contrib(v) + D DIV n) DIV 20

    (D = dangling mass) is pure integer arithmetic: order-independent
    sums, no float drift, hence cross-engine exact vs the unrolled SQL
    oracle.  ``teleport`` (a boolean Column over ``addr``) personalizes
    the walk: teleport and the dangling redirect go to the n nodes it
    selects instead of all nodes, and the walk starts uniform on them.

    Jobs: the edge list is checkpointed once (row count observed); one
    aggregate over it gives every node its out-degree (NULL for sinks),
    checkpointed with n and the dangling teleport count observed, so
    the initial dangling mass needs no pass.  The adjacency (edges plus
    one self-row per node) is cached once.  A round is ONE join + ONE
    aggregate on dst — the self-row carries the node's own rank and
    degree through it — and ONE checkpoint whose Observation returns
    the next dangling mass and the L1 delta: two jobs per round on
    small graphs (the rank broadcast, the checkpoint), three on large
    ones (rank exchange, aggregate exchange, checkpoint).  At sf0.01
    graph_pagerank runs 28 jobs per call, 127 with separate scalar
    collects.  When the bigint delta drops to
    ``tol`` (default 0 = exact fixpoint) the loop stops: an integer
    fixpoint is invariant under further rounds, so the early exit
    returns output IDENTICAL to the full ``max_iter`` unroll.
    ``tol < 0`` disables the exit (referee use only).

    Returns the ``Iteration`` record with ``state`` = (addr, rank_e12)
    over every node (zero-rank nodes included).
    """
    edges, stats = checkpoint(edges.select("src", "dst"), rows=F.count(F.lit(1)))
    in_teleport = F.lit(True) if teleport is None else teleport
    nodes, counts = checkpoint(
        edges.select(F.col("src").alias("addr"), F.lit(1).alias("out"))
        .unionAll(edges.select(F.col("dst").alias("addr"), F.lit(0).alias("out")))
        .groupBy("addr")
        .agg(F.sum("out").alias("deg"))
        .select(
            "addr",
            F.when(F.col("deg") > 0, F.col("deg")).cast("bigint").alias("deg"),
            in_teleport.alias("tp"),
        ),
        n=F.count(F.lit(1)),
        n_tp=F.count_if(F.col("tp")),
        dangling_tp=F.count_if(F.col("tp") & F.col("deg").isNull()),
    )
    n = counts["n_tp"]
    if n == 0:
        # ADVICE r11: without this, PAGERANK_SCALE // n raises a bare
        # ZeroDivisionError for a small/skewed corpus
        # whose teleport draw selects no node
        raise ValueError(
            "pagerank_iterate: the teleport set selects zero nodes on "
            "this graph; widen the predicate or pass an explicit set"
        )
    init = PAGERANK_SCALE // n
    adjacency = edges.select("src", "dst", F.lit(True).alias("edge")).unionAll(
        nodes.select(
            F.col("addr").alias("src"), F.col("addr").alias("dst"), F.lit(False)
        )
    )

    def step(frame, adj, prev, r):
        dang_share = prev["dangling"] // n
        own = ~F.col("edge")
        agg = (
            adj.join(frame.select("addr", "deg", "tp", "rank_e12"), "addr")
            .groupBy("dst")
            .agg(
                F.sum(
                    F.when(F.col("edge"), F.expr("rank_e12 DIV deg"))
                ).alias("contrib"),
                F.max(F.when(own, F.col("rank_e12"))).alias("old"),
                F.max(F.when(own, F.col("deg"))).alias("deg"),
                F.max(F.when(own, F.col("tp"))).alias("tp"),
            )
        )
        new = F.expr(
            f"CAST(CASE WHEN tp THEN {3 * PAGERANK_SCALE // (20 * n)} ELSE 0 END"
            f" + (17 * (COALESCE(contrib, 0)"
            f" + CASE WHEN tp THEN {dang_share} ELSE 0 END)) DIV 20 AS BIGINT)"
        )
        return agg.select(
            F.col("dst").alias("addr"), "deg", "tp", new.alias("rank_e12"), "old"
        ).withColumn("dstep", F.abs(F.col("rank_e12") - F.col("old")))

    run = iterate(
        nodes.select(
            "addr", "deg", "tp",
            F.when(F.col("tp"), F.lit(init)).otherwise(0).cast("bigint").alias("rank_e12"),
        ),
        step,
        max_iter,
        scalars={
            "dangling": F.coalesce(
                F.sum(F.when(F.col("deg").isNull(), F.col("rank_e12"))), F.lit(0)
            ).cast("bigint"),
            "delta": F.coalesce(F.sum("dstep"), F.lit(0)).cast("bigint"),
        },
        until=lambda seen: tol >= 0 and seen["delta"] <= tol,
        initial={"dangling": init * counts["dangling_tp"]},
        adjacency=adjacency,
        key="src",
        to="dst",
        rows=stats["rows"] + counts["n"],
    )
    return replace(run, state=run.state.select("addr", "rank_e12"))


def star_contract(edges, max_iter: int = 30):
    """Two-phase star contraction (the large-star/small-star
    MapReduce-CC algorithm): alternating rounds connect every node to
    the minimum of its neighborhood, contracting components into star
    forests in O(log n) rounds — versus label propagation's
    O(diameter) rounds. On a path graph of 64 nodes this converges in
    ~6 rounds where min-label propagation needs 63 full edge-set
    shuffles; at 100 TB that round count IS the job cost.

    Runs on ``iterate`` with one large star and one small star per
    materialization (``pairs=True``).  The fixpoint probe — edge count
    and an order-insensitive sum of row hashes — is observed on each
    pair's checkpoint job, not collected separately; the loop ends on
    the first pair that leaves it unchanged.

    ``edges`` is any (src, dst) DataFrame (direction ignored, self
    loops dropped). Returns ``(labels, rounds_run)`` where labels maps
    every node (addr) to its component minimum (label) and a round is
    one large+small pair.
    """

    def sym(e):
        return (
            e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def star(e, adj, prev, r):
        # odd rounds are large stars, even rounds small stars;
        # m(u) = min(N(u) ∪ {u}) over the symmetric neighbor view
        s = sym(e)
        mins = (
            s.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least(F.col("src"), F.col("mn")).alias("m"))
        )
        joined = s.join(mins, "src")
        if r % 2:
            out = joined.filter(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("src"), F.col("m").alias("dst")
            )
        else:
            out = joined.filter(F.col("dst") <= F.col("src")).select(
                F.col("dst").alias("src"), F.col("m").alias("dst")
            ).union(joined.select("src", F.col("m").alias("dst")))
        return out.filter(F.col("src") != F.col("dst")).distinct()

    fingerprint = {
        "n": F.count("*"),
        "h": F.coalesce(F.sum(F.xxhash64("src", "dst") % 1000003), F.lit(0)),
    }
    nodes = (
        sym(edges).select(F.col("src").alias("addr")).distinct().transform(materialize)
    )
    e, seen = checkpoint(sym(edges), **fingerprint)
    last = [seen]

    def unchanged(fp):
        last.append(fp)
        return last[-2] == fp

    run = iterate(
        e, star, 2 * max_iter, scalars=fingerprint, until=unchanged, pairs=True
    )
    # fixpoint is a star forest: every edge points node → component min
    member_min = run.state.groupBy("src").agg(F.min("dst").alias("label"))
    labels = nodes.join(
        member_min, nodes.addr == member_min.src, "left"
    ).select(
        "addr",
        F.least(
            F.col("addr"), F.coalesce(F.col("label"), F.col("addr"))
        ).alias("label"),
    )
    return labels, run.rounds_run // 2


@query("graph_components_star", _DUCK_COMPONENTS)
def graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via star contraction — the log-round
    algorithm for when graph diameter matters (VERDICT r1 watch item).
    Same co-spend graph, output shape, and recursive-CTE oracle as
    ``graph_components``; tests assert both algorithms produce
    identical component partitions, and that star contraction beats
    the propagation round count on a long path."""
    labels, _ = star_contract(cooccurrence_edges(spark))
    return labels.groupBy("label").agg(
        F.count("*").alias("component_size"),
        F.min("addr").alias("representative"),
    ).select("component_size", "representative")


_REORG_H1, _REORG_H2 = 100, 110
_REORG_HASH1 = "f" * 64
_REORG_HASH2 = "e" * 64


@query(
    "ingest_reorg_detect",
    f"""
    SELECT height, block_hash AS orphaned_hash,
           CASE height WHEN {_REORG_H1} THEN '{_REORG_HASH1}'
                       ELSE '{_REORG_HASH2}' END AS replaced_by
    FROM read_json('{BLOCKS_JSONL}', format='newline_delimited',
                   columns={{'height':'BIGINT','block_hash':'VARCHAR'}})
    WHERE height IN ({_REORG_H1}, {_REORG_H2})
    """,
)
def ingest_reorg_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain REORG detection (round 6) — the datafeed-specific event
    the re-ingest machinery exists FOR: competing blocks arrive at an
    already-ingested height, and the canonical pick is
    newest-record-wins by ingest sequence (the reference's re-ingest
    rule — SURVEY §2.5 win_topk_per_group provenance).  This operator
    finds every height with >1 observed block, elects the winner, and
    emits the ORPHANED blocks with the hash that replaced them — the
    exact worklist sink_partitioned_overwrite then replays (orphaned
    heights → affected day partitions → O(affected) rewrite).

    The staged reorg feed is the clean fixture feed with each line
    stamped ingest_seq = arrival index, plus two competing blocks
    planted at heights {_REORG_H1}/{_REORG_H2} with later sequence
    numbers; the oracle reconstructs the SAME answer relationally from
    the CLEAN feed + the planted constants (the scan_json_corrupt
    asymmetry: staging bugs can't self-certify).

    Scale: one keyed window over (height) on the block-header table —
    headers are tiny next to tx payloads; the orphan set is
    reorg-depth-sized."""
    import json as _json
    import tempfile

    from graphsense_datafeed_spark.sources.tables import source_fingerprint

    # fingerprint-keyed staging (house discipline): a regenerated feed
    # fixture re-stages instead of serving stale poisoned bytes
    fp = source_fingerprint(BLOCKS_JSONL)
    staged = os.path.join(
        tempfile.gettempdir(), f"gds_reorg_feed-{fp}.jsonl"
    )
    if not os.path.exists(staged):
        with open(BLOCKS_JSONL) as f, open(staged + ".tmp", "w") as out:
            seq = 0
            for line in f:
                rec = _json.loads(line)
                out.write(
                    _json.dumps(
                        {
                            "height": rec["height"],
                            "block_hash": rec["block_hash"],
                            "ingest_seq": seq,
                        }
                    )
                    + "\n"
                )
                seq += 1
            for h, hsh in ((_REORG_H1, _REORG_HASH1), (_REORG_H2, _REORG_HASH2)):
                out.write(
                    _json.dumps(
                        {"height": h, "block_hash": hsh, "ingest_seq": seq}
                    )
                    + "\n"
                )
                seq += 1
        os.rename(staged + ".tmp", staged)
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("height", LongType()),
            StructField("block_hash", StringType()),
            StructField("ingest_seq", LongType()),
        ]
    )
    feed = spark.read.schema(schema).json(staged)
    w = Window.partitionBy("height").orderBy(F.col("ingest_seq").desc())
    ranked = feed.select(
        "height",
        "block_hash",
        F.row_number().over(w).alias("rnk"),
        F.first("block_hash").over(
            Window.partitionBy("height").orderBy(F.col("ingest_seq").desc())
        ).alias("replaced_by"),
    )
    return ranked.filter(F.col("rnk") > 1).select(
        "height",
        F.col("block_hash").alias("orphaned_hash"),
        "replaced_by",
    )


@query(
    "ingest_fee_summary",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), fees AS (
        SELECT height,
               (tx).total_input - (tx).total_output AS fee
        FROM txr WHERE NOT (tx).coinbase
    )
    SELECT height,
           CAST(COUNT(*) AS BIGINT) AS n_tx,
           CAST(SUM(fee) AS BIGINT) AS fees_total,
           CAST(MIN(fee) AS BIGINT) AS fee_min,
           CAST(MAX(fee) AS BIGINT) AS fee_max,
           CAST(FLOOR(CAST(SUM(fee) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS fee_mean_floor
    FROM fees GROUP BY height
    """,
)
def ingest_fee_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block FEE-market summary (round 6) — the reference-domain
    analytics the datafeed's consumers actually compute from the
    exploded tx table: fee = total_input − total_output per
    non-coinbase transaction (coinbase mints, it doesn't pay), rolled
    up per block (count, total, min/max, floored mean).  The miner-
    revenue / congestion readout fee estimators start from.

    Exactness: satoshi values are integral; every aggregate is bigint
    except the mean's single floored division.  Synthetic fixture
    blocks can carry negative fees (generator doesn't enforce
    input ≥ output) — summarized as-is, both engines identically.

    Scale: one explode + partial agg keyed on height — the same
    per-block discipline as ingest_tx_explode; incremental per block
    at the daemon's pace."""
    txs = explode_transactions(normalize_blocks(read_blocks_json(spark)))
    fees = txs.filter(~F.col("coinbase")).select(
        "height", (F.col("total_input") - F.col("total_output")).alias("fee")
    )
    return fees.groupBy("height").agg(
        F.count("*").cast("bigint").alias("n_tx"),
        F.sum("fee").cast("bigint").alias("fees_total"),
        F.min("fee").cast("bigint").alias("fee_min"),
        F.max("fee").cast("bigint").alias("fee_max"),
        F.floor(F.sum("fee").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("fee_mean_floor"),
    )


@query(
    "ingest_address_balance",
    f"""
    WITH txr AS (
        SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), flows AS (
        SELECT (o).address[1] AS address, (o).value AS sat, 'out' AS kind
        FROM (SELECT unnest((tx).outputs) AS o FROM txr)
        UNION ALL
        SELECT (i).address[1] AS address, (i).value AS sat, 'in' AS kind
        FROM (SELECT unnest((tx).inputs) AS i FROM txr)
    )
    SELECT address,
           CAST(COUNT(*) FILTER (kind = 'out') AS BIGINT) AS n_outputs,
           CAST(COUNT(*) FILTER (kind = 'in') AS BIGINT) AS n_inputs,
           CAST(COALESCE(SUM(sat) FILTER (kind = 'out'), 0) AS BIGINT)
               AS total_received,
           CAST(COALESCE(SUM(sat) FILTER (kind = 'in'), 0) AS BIGINT)
               AS total_spent,
           CAST(COALESCE(SUM(sat) FILTER (kind = 'out'), 0)
                - COALESCE(SUM(sat) FILTER (kind = 'in'), 0) AS BIGINT)
               AS balance
    FROM flows GROUP BY address
    """,
)
def ingest_address_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-address BALANCE ledger (round 6) — the computation
    GraphSense exists to serve: every address's received minus spent
    satoshis with flow counts, derived from BOTH sides of every
    transaction (ingest_address_totals covers only the output side).
    Inputs and outputs union into one signed flow table so the whole
    ledger is ONE hash aggregation on address — exact bigint satoshis
    end to end, mergeable partials, so the balance table maintains
    incrementally per block exactly like the reference's address
    keyspace.

    Synthetic fixture values don't conserve (generator doesn't enforce
    input ≥ output), so balances can be negative — summarized as-is,
    identically in both engines.

    Scale: two explodes feed one address-keyed exchange; at 100 TB the
    address table is the at-rest partition key (probe = pruning), and
    per-block deltas merge into it — the datafeed's daemon loop."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select(F.explode("txs").alias("tx"))
    outs = txr.select(F.explode("tx.outputs").alias("o")).select(
        F.col("o.address")[0].alias("address"),
        F.col("o.value").alias("sat"),
        F.lit("out").alias("kind"),
    )
    ins = txr.select(F.explode("tx.inputs").alias("i")).select(
        F.col("i.address")[0].alias("address"),
        F.col("i.value").alias("sat"),
        F.lit("in").alias("kind"),
    )
    flows = outs.unionAll(ins)
    recv = F.coalesce(
        F.sum(F.when(F.col("kind") == "out", F.col("sat"))), F.lit(0)
    )
    spent = F.coalesce(
        F.sum(F.when(F.col("kind") == "in", F.col("sat"))), F.lit(0)
    )
    return flows.groupBy("address").agg(
        F.count(F.when(F.col("kind") == "out", 1))
        .cast("bigint")
        .alias("n_outputs"),
        F.count(F.when(F.col("kind") == "in", 1))
        .cast("bigint")
        .alias("n_inputs"),
        recv.cast("bigint").alias("total_received"),
        spent.cast("bigint").alias("total_spent"),
        (recv - spent).cast("bigint").alias("balance"),
    )


@query(
    "ingest_entity_cospend",
    f"""
    WITH RECURSIVE txin AS (
        SELECT (tx).tx_hash AS tx_hash, unnest((tx).inputs) AS i
        FROM (SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS})
        WHERE NOT (tx).coinbase
    ), base AS (
        SELECT tx_hash, (i).address[1] AS addr FROM txin
    ), edges AS (
        SELECT DISTINCT a.addr AS src, b.addr AS dst
        FROM base a JOIN base b USING (tx_hash) WHERE a.addr < b.addr
    ), sym AS (
        SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ), nodes AS (SELECT DISTINCT addr FROM base),
    labels AS (
        SELECT n.addr, least(n.addr, coalesce(min(r.dst), n.addr)) AS entity
        FROM nodes n LEFT JOIN reach r ON n.addr = r.src
        GROUP BY n.addr
    )
    SELECT addr AS address, entity FROM labels
    """,
)
def ingest_entity_cospend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-SPEND entity clustering (round 6) — GraphSense's signature
    heuristic, as itself: addresses spending inputs in the SAME
    transaction are controlled by one wallet, so connected components
    over the inputs-only co-occurrence graph define ENTITIES (the
    'multi-input' heuristic).  graph_components clusters the looser
    inputs∪outputs graph; this is the strict domain rule — outputs
    never merge entities (a payment doesn't co-own the payee).

    Entity id = lexicographic min address of the component, computed
    by the convergence-bounded min-label propagation helper
    (label_propagate: neighbor-min join per round, cheapest-possible
    changed-row probe, localCheckpoint lineage truncation,
    require_converged so an unconverged bound fails loudly instead of
    hash-mismatching).  The oracle is the full recursive-CTE
    transitive closure — the strongest possible referee for an
    iterative algorithm.

    Scale: edges are Σ inputs-per-tx² (bounded per tx, the dedup_near
    bucket discipline applies to megaspend txs); rounds ≤ component
    diameter, each one keyed edge shuffle."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select(F.explode("txs").alias("tx")).filter(
        ~F.col("tx.coinbase")
    )
    base = txr.select(
        F.col("tx.tx_hash").alias("tx_hash"),
        F.explode("tx.inputs").alias("i"),
    ).select("tx_hash", F.col("i.address")[0].alias("addr"))
    a = base.alias("a")
    b = base.alias("b")
    edges = (
        a.join(b, "tx_hash")
        .filter(F.col("a.addr") < F.col("b.addr"))
        .select(F.col("a.addr").alias("src"), F.col("b.addr").alias("dst"))
        .distinct()
    )
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        base.select("addr")
        .distinct()
        .select("addr", F.col("addr").alias("label"))
        .transform(materialize)
    )
    labels = label_propagate(
        sym, labels, max_iter=50, require_converged=True
    ).state
    return labels.select(
        F.col("addr").alias("address"), F.col("label").alias("entity")
    )


@query(
    "ingest_entity_summary",
    f"""
    WITH RECURSIVE txin AS (
        SELECT (tx).tx_hash AS tx_hash, unnest((tx).inputs) AS i
        FROM (SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS})
        WHERE NOT (tx).coinbase
    ), base AS (
        SELECT tx_hash, (i).address[1] AS addr FROM txin
    ), edges AS (
        SELECT DISTINCT a.addr AS src, b.addr AS dst
        FROM base a JOIN base b USING (tx_hash) WHERE a.addr < b.addr
    ), sym AS (
        SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ), nodes AS (SELECT DISTINCT addr FROM base),
    entities AS (
        SELECT n.addr, least(n.addr, coalesce(min(r.dst), n.addr)) AS entity
        FROM nodes n LEFT JOIN reach r ON n.addr = r.src
        GROUP BY n.addr
    ), txr2 AS (
        SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), flows AS (
        SELECT (o).address[1] AS address, (o).value AS sat, 'out' AS kind
        FROM (SELECT unnest((tx).outputs) AS o FROM txr2)
        UNION ALL
        SELECT (i).address[1] AS address, (i).value AS sat, 'in' AS kind
        FROM (SELECT unnest((tx).inputs) AS i FROM txr2)
    ), balances AS (
        SELECT address,
               CAST(COALESCE(SUM(sat) FILTER (kind = 'out'), 0)
                    - COALESCE(SUM(sat) FILTER (kind = 'in'), 0) AS BIGINT)
                   AS balance
        FROM flows GROUP BY address
    )
    SELECT e.entity,
           CAST(COUNT(*) AS BIGINT) AS n_addresses,
           CAST(SUM(b.balance) AS BIGINT) AS entity_balance
    FROM entities e JOIN balances b ON b.address = e.addr
    GROUP BY e.entity
    """,
)
def ingest_entity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY keyspace summary (round 6) — the table GraphSense
    actually serves: co-spend entities (ingest_entity_cospend's
    clustering) joined with per-address balances
    (ingest_address_balance's two-sided ledger) and rolled up to one
    row per entity (address count, aggregate balance).  The full
    reference pipeline — parse → explode → cluster → ledger →
    entity rollup — as ONE composed Catalyst plan; the oracle composes
    the recursive-CTE closure with the flow ledger the same way, so a
    drift in ANY stage (missed edge, lost flow, wrong precedence)
    surfaces as a hash mismatch at the very end — the
    embedding_pipeline stage-composition discipline applied to the
    reference's own domain.

    Scale: clustering shuffles edges, the ledger shuffles flows, and
    the final rollup shuffles |addresses| (entity, balance) pairs —
    each stage keyed on what it aggregates; the entity map is the
    persisted artifact the daemon updates incrementally (new blocks
    merge edges; label propagation resumes from current labels)."""
    ent = ingest_entity_cospend(spark, sf_dir).select(
        F.col("address").alias("e_addr"), "entity"
    )
    bal = ingest_address_balance(spark, sf_dir).select("address", "balance")
    return (
        ent.join(bal, ent.e_addr == bal.address)
        .groupBy("entity")
        .agg(
            F.count("*").cast("bigint").alias("n_addresses"),
            F.sum("balance").cast("bigint").alias("entity_balance"),
        )
    )


@query(
    "ingest_block_gaps",
    f"""
    WITH heights AS (
        SELECT DISTINCT height
        FROM read_json('{BLOCKS_JSONL}', format='newline_delimited',
                       columns={{'height':'BIGINT'}})
        WHERE height % 7 <> 3
    ), islands AS (
        SELECT height,
               height - ROW_NUMBER() OVER (ORDER BY height) AS grp
        FROM heights
    ), runs AS (
        SELECT MIN(height) AS run_start, MAX(height) AS run_end
        FROM islands GROUP BY grp
    )
    SELECT run_end + 1 AS gap_start,
           next_start - 1 AS gap_end,
           CAST(next_start - run_end - 1 AS BIGINT) AS n_missing
    FROM (
        SELECT run_start, run_end,
               lead(run_start) OVER (ORDER BY run_start) AS next_start
        FROM runs
    ) WHERE next_start IS NOT NULL
    """,
)
def ingest_block_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sync-integrity GAP detection (round 6): which height ranges are
    missing from the ingested chain — the daemon's catch-up worklist
    (the reference tracks 'last ingested height'; gaps happen when a
    batch dies mid-range or a reorg rollback removes blocks).  A
    synthetic hole is drilled (heights ≡ 3 mod 7 filtered) so the
    detector has something to find; production runs the same plan over
    the landed block table.

    The gaps-and-islands program (win_gaps_islands' tabibitosan trick):
    height − row_number is constant within each contiguous run, so
    runs collapse to a GROUP BY; gaps are the space between a run's
    end and the next run's start (one lead window over |runs| rows).
    Integer arithmetic only.

    Scale: one global-ordered window over the DISTINCT height table —
    heights are block-chain-sized (millions), not tx-sized, and the
    run table it feeds lead() is gaps-sized; at true chain scale the
    row_number re-keys per epoch range exactly like date_spine_fill."""
    from pyspark.sql import Window

    raw = read_blocks_json(spark).select("height").distinct()
    heights = raw.filter(F.col("height") % 7 != 3)
    w = Window.orderBy("height")
    islands = heights.select(
        "height", (F.col("height") - F.row_number().over(w)).alias("grp")
    )
    runs = islands.groupBy("grp").agg(
        F.min("height").alias("run_start"), F.max("height").alias("run_end")
    )
    w2 = Window.orderBy("run_start")
    seq = runs.select(
        "run_start",
        "run_end",
        F.lead("run_start").over(w2).alias("next_start"),
    ).filter(F.col("next_start").isNotNull())
    return seq.select(
        (F.col("run_end") + 1).alias("gap_start"),
        (F.col("next_start") - 1).alias("gap_end"),
        (F.col("next_start") - F.col("run_end") - 1)
        .cast("bigint")
        .alias("n_missing"),
    )


@query(
    "ingest_fiat_values",
    f"""
    WITH blocks AS (
        SELECT height,
               CAST(make_timestamp(timestamp * 1000000) AS DATE)
                   AS block_date,
               txs
        FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT height, block_date,
               CAST(SUM((o).value) AS BIGINT) AS total_out_satoshi
        FROM (SELECT height, block_date, unnest((tx).outputs) AS o
              FROM (SELECT height, block_date, unnest(txs) AS tx
                    FROM blocks))
        GROUP BY height, block_date
    ), rates AS (
        SELECT CAST(date AS DATE) AS rate_date,
               CAST(usd AS DOUBLE) AS usd, CAST(eur AS DOUBLE) AS eur
        FROM read_csv('{RATES_CSV}', header=true)
    )
    SELECT o.height, o.block_date, o.total_out_satoshi,
           CAST(FLOOR(CAST(o.total_out_satoshi AS DOUBLE) / 100000000.0
                      * r.usd * 100) AS BIGINT) AS usd_value_cents,
           CAST(FLOOR(CAST(o.total_out_satoshi AS DOUBLE) / 100000000.0
                      * r.eur * 100) AS BIGINT) AS eur_value_cents
    FROM outs o JOIN rates r ON r.rate_date = o.block_date
    """,
)
def ingest_fiat_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIAT conversion of block flows (round 6) — what the reference
    ingests exchange rates FOR: each block's total output value
    (satoshi) priced in USD/EUR at that block DATE's rate, the
    fiat-denominated columns GraphSense exposes on every keyspace
    row.  The rates feed (stream_rates_upsert keeps it current)
    finally meets the block feed.

    Join is an equi-join on the calendar date — the rates table is
    daily and dimension-tiny, so it broadcasts and the block side
    never shuffles (for gap days the production form is the join_asof
    backward fill over the same union; documented, not needed for the
    gapless fixture feed).  Satoshi totals are exact bigints; each
    fiat value is ONE double chain (satoshi / 1e8 × rate × 100) in the
    oracle's literal order, floored to integer cents.

    Scale: per-block output rollup (height-keyed partial agg) +
    broadcast rate dim; incremental per block at the daemon's pace."""
    from graphsense_datafeed_spark.sources.scans import read_rates_csv

    raw = normalize_blocks(read_blocks_json(spark))
    outs = (
        raw.select(
            "height", "block_date", F.explode("txs").alias("tx")
        )
        .select("height", "block_date", F.explode("tx.outputs").alias("o"))
        .groupBy("height", "block_date")
        .agg(F.sum("o.value").cast("bigint").alias("total_out_satoshi"))
    )
    rates = read_rates_csv(spark).select(
        F.col("date").cast("date").alias("rate_date"),
        F.col("usd").cast("double").alias("usd"),
        F.col("eur").cast("double").alias("eur"),
    )
    joined = outs.join(
        F.broadcast(rates), outs.block_date == rates.rate_date
    )
    btc = F.col("total_out_satoshi").cast("double") / 100000000.0
    return joined.select(
        "height",
        "block_date",
        "total_out_satoshi",
        F.floor(btc * F.col("usd") * 100).cast("bigint").alias(
            "usd_value_cents"
        ),
        F.floor(btc * F.col("eur") * 100).cast("bigint").alias(
            "eur_value_cents"
        ),
    )


@query(
    "ingest_fiat_values_asof",
    f"""
    WITH blocks AS (
        SELECT height,
               CAST(make_timestamp(timestamp * 1000000) AS DATE)
                   AS block_date,
               txs
        FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT height, block_date,
               CAST(SUM((o).value) AS BIGINT) AS total_out_satoshi
        FROM (SELECT height, block_date, unnest((tx).outputs) AS o
              FROM (SELECT height, block_date, unnest(txs) AS tx
                    FROM blocks))
        GROUP BY height, block_date
    ), gappy_rates AS (
        SELECT CAST(date AS DATE) AS rate_date,
               CAST(usd AS DOUBLE) AS usd
        FROM read_csv('{RATES_CSV}', header=true)
        WHERE dayofmonth(CAST(date AS DATE)) % 5 <> 2
    )
    SELECT o.height, o.block_date, o.total_out_satoshi,
           r.rate_date AS rate_date_used,
           CAST(FLOOR(CAST(o.total_out_satoshi AS DOUBLE) / 100000000.0
                      * r.usd * 100) AS BIGINT) AS usd_value_cents
    FROM outs o
    ASOF JOIN gappy_rates r ON o.block_date >= r.rate_date
    """,
)
def ingest_fiat_values_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fiat conversion under a GAPPY rates feed (round 6) —
    ingest_fiat_values' documented fallback made real: days ≡ 2 mod 5
    are drilled out of the rates table, so the equi-join would drop
    those blocks; the correct semantics is LAST AVAILABLE RATE
    at-or-before the block date (how every market-data consumer
    handles weekends/outages), i.e. an as-of join.

    Spark side runs the engine's standard as-of composition (the
    join_asof union+window program): rate rows and block rows ride one
    date-ordered stream, ``last(rate, ignorenulls)`` over the
    RANGE-to-current frame carries the latest rate forward — ONE
    exchange, no point-in-time cross product.  DuckDB's native
    ASOF JOIN states the same semantics for the oracle; the emitted
    rate_date_used column pins WHICH rate was carried (a
    backward-fill bug shows up as the wrong date before it shows up
    in cents).

    Scale: the rates stream is dimension-tiny but rides the same keyed
    exchange (here keyless-by-date: the union stream is
    date-partitioned at scale by calendar bucket, the join_interval
    discipline)."""
    from pyspark.sql import Window

    from graphsense_datafeed_spark.sources.scans import read_rates_csv

    raw = normalize_blocks(read_blocks_json(spark))
    outs = (
        raw.select("height", "block_date", F.explode("txs").alias("tx"))
        .select("height", "block_date", F.explode("tx.outputs").alias("o"))
        .groupBy("height", "block_date")
        .agg(F.sum("o.value").cast("bigint").alias("total_out_satoshi"))
    )
    rates = (
        read_rates_csv(spark)
        .filter(F.dayofmonth(F.col("date").cast("date")) % 5 != 2)
        .select(
            F.col("date").cast("date").alias("d"),
            F.col("usd").cast("double").alias("usd"),
        )
    )
    # union+window as-of: rates and blocks on one date-ordered tape
    tape = rates.select(
        F.col("d"),
        F.lit(0).alias("is_block"),
        F.lit(None).cast("bigint").alias("height"),
        F.lit(None).cast("bigint").alias("total_out_satoshi"),
        F.col("usd"),
        F.col("d").alias("rate_date"),
    ).unionAll(
        outs.select(
            F.col("block_date").alias("d"),
            F.lit(1).alias("is_block"),
            "height",
            "total_out_satoshi",
            F.lit(None).cast("double").alias("usd"),
            F.lit(None).cast("date").alias("rate_date"),
        )
    )
    w = (
        Window.orderBy("d", "is_block")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tape.select(
        "d",
        "is_block",
        "height",
        "total_out_satoshi",
        F.last("usd", ignorenulls=True).over(w).alias("usd"),
        F.last("rate_date", ignorenulls=True).over(w).alias(
            "rate_date_used"
        ),
        # INNER as-of semantics, pinned (ADVICE r6): a block with no
        # rate at-or-before its date is DROPPED, exactly like DuckDB's
        # ASOF JOIN — without this filter the two engines would return
        # different row sets if the feed ever lost its earliest dates.
    ).filter((F.col("is_block") == 1) & F.col("usd").isNotNull())
    btc = F.col("total_out_satoshi").cast("double") / 100000000.0
    return carried.select(
        "height",
        F.col("d").alias("block_date"),
        "total_out_satoshi",
        "rate_date_used",
        F.floor(btc * F.col("usd") * 100)
        .cast("bigint")
        .alias("usd_value_cents"),
    )


@query(
    "ingest_address_activity_span",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), flows AS (
        SELECT height, (tx).tx_hash AS tx_hash,
               (o).address[1] AS address, 'out' AS kind
        FROM (SELECT height, tx, unnest((tx).outputs) AS o FROM txr)
        UNION ALL
        SELECT height, (tx).tx_hash AS tx_hash,
               (i).address[1] AS address, 'in' AS kind
        FROM (SELECT height, tx, unnest((tx).inputs) AS i FROM txr)
    )
    SELECT address,
           CAST(MIN(height) AS BIGINT) AS first_height,
           CAST(MAX(height) AS BIGINT) AS last_height,
           CAST(COUNT(DISTINCT height) AS BIGINT) AS n_blocks_active,
           CAST(COUNT(DISTINCT CASE WHEN kind = 'out' THEN tx_hash END)
                AS BIGINT) AS n_tx_receiving,
           CAST(COUNT(DISTINCT CASE WHEN kind = 'in' THEN tx_hash END)
                AS BIGINT) AS n_tx_spending
    FROM flows GROUP BY address
    """,
)
def ingest_address_activity_span(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-address ACTIVITY SPAN (round 7) — the first_tx / last_tx /
    activity columns of the GraphSense address keyspace that
    ingest_address_balance's value ledger doesn't carry: when an
    address first and last appeared on-chain, how many blocks it was
    active in, and in how many distinct transactions it received vs
    spent.  Address-lifetime analytics (dormancy, one-shot addresses,
    exchange hot wallets) read exactly this row.

    Exact bigint min/max/distinct aggregation over the same two
    explodes as the balance ledger — no floats anywhere.

    Scale: one address-keyed exchange; distinct-tx counts are
    per-address partial aggregations (address, tx_hash) — mergeable
    per block for the daemon's incremental maintenance."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("height", F.explode("txs").alias("tx"))
    outs = txr.select(
        "height",
        F.col("tx.tx_hash").alias("tx_hash"),
        F.explode("tx.outputs").alias("o"),
    ).select(
        "height",
        "tx_hash",
        F.col("o.address")[0].alias("address"),
        F.lit("out").alias("kind"),
    )
    ins = txr.select(
        "height",
        F.col("tx.tx_hash").alias("tx_hash"),
        F.explode("tx.inputs").alias("i"),
    ).select(
        "height",
        "tx_hash",
        F.col("i.address")[0].alias("address"),
        F.lit("in").alias("kind"),
    )
    flows = outs.unionAll(ins)
    return flows.groupBy("address").agg(
        F.min("height").cast("bigint").alias("first_height"),
        F.max("height").cast("bigint").alias("last_height"),
        F.countDistinct("height").cast("bigint").alias("n_blocks_active"),
        F.countDistinct(
            F.when(F.col("kind") == "out", F.col("tx_hash"))
        )
        .cast("bigint")
        .alias("n_tx_receiving"),
        F.countDistinct(
            F.when(F.col("kind") == "in", F.col("tx_hash"))
        )
        .cast("bigint")
        .alias("n_tx_spending"),
    )


@query(
    "ingest_balance_running_audit",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), flows AS (
        SELECT height, (o).address[1] AS address,
               CAST((o).value AS BIGINT) AS delta
        FROM (SELECT height, unnest((tx).outputs) AS o FROM txr)
        UNION ALL
        SELECT height, (i).address[1] AS address,
               CAST(-(i).value AS BIGINT) AS delta
        FROM (SELECT height, unnest((tx).inputs) AS i FROM txr)
    ), per_height AS (
        SELECT address, height, CAST(SUM(delta) AS BIGINT) AS d
        FROM flows GROUP BY address, height
    ), run AS (
        SELECT address, height,
               CAST(SUM(d) OVER (PARTITION BY address ORDER BY height
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS bal
        FROM per_height
    )
    SELECT address,
           CAST(MAX(CASE WHEN rn = 1 THEN bal END) AS BIGINT)
               AS final_balance,
           CAST(MIN(bal) AS BIGINT) AS min_balance,
           CAST(MIN(CASE WHEN bal < 0 THEN height END) AS BIGINT)
               AS first_overdraft_height,
           MIN(bal) >= 0 AS is_consistent
    FROM (
        SELECT address, height, bal,
               ROW_NUMBER() OVER (PARTITION BY address
                                  ORDER BY height DESC) AS rn
        FROM run
    ) GROUP BY address
    """,
)
def ingest_balance_running_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Running-balance NON-NEGATIVITY audit per address (round 7) —
    the ledger invariant a real chain ingest must certify: at no
    block height may an address have spent more than it had received
    (a violation means a missed output, a double-applied input, or a
    reorg applied out of order).  Emits each address's final balance,
    its running minimum, the first overdraft height (NULL when
    consistent), and the verdict — the audit_totals_reconcile
    discipline applied to the reference's own ledger.

    The synthetic feed does NOT conserve value (documented at
    ingest_address_balance), so violations are EXPECTED here — the
    audit's job is to locate them identically in both engines: flows
    atomize per (address, height) BEFORE the prefix sum, so the
    running balance is deterministic with no intra-height order
    dependence.  Exact bigint satoshis end to end.

    Scale: one address-keyed exchange reused by the prefix window and
    the final aggregate; per-height atomization bounds window input
    to active (address, height) pairs."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("height", F.explode("txs").alias("tx"))
    outs = txr.select(
        "height", F.explode("tx.outputs").alias("o")
    ).select(
        "height",
        F.col("o.address")[0].alias("address"),
        F.col("o.value").cast("bigint").alias("delta"),
    )
    ins = txr.select("height", F.explode("tx.inputs").alias("i")).select(
        "height",
        F.col("i.address")[0].alias("address"),
        (-F.col("i.value")).cast("bigint").alias("delta"),
    )
    per_height = (
        outs.unionAll(ins)
        .groupBy("address", "height")
        .agg(F.sum("delta").cast("bigint").alias("d"))
    )
    w_run = (
        Window.partitionBy("address")
        .orderBy("height")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = per_height.select(
        "address",
        "height",
        F.sum("d").over(w_run).cast("bigint").alias("bal"),
    )
    w_last = Window.partitionBy("address").orderBy(F.col("height").desc())
    return (
        run.select(
            "address",
            "height",
            "bal",
            F.row_number().over(w_last).alias("rn"),
        )
        .groupBy("address")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("bal")))
            .cast("bigint")
            .alias("final_balance"),
            F.min("bal").cast("bigint").alias("min_balance"),
            F.min(F.when(F.col("bal") < 0, F.col("height")))
            .cast("bigint")
            .alias("first_overdraft_height"),
            (F.min("bal") >= 0).alias("is_consistent"),
        )
    )


@query(
    "ingest_block_interval_stats",
    f"""
    WITH heights AS (
        SELECT DISTINCT height, timestamp FROM {_DUCK_BLOCKS}
    ), gaps AS (
        SELECT height,
               timestamp - lag(timestamp) OVER (ORDER BY height)
                   AS gap_s
        FROM heights
    ), atoms AS (
        SELECT gap_s, CAST(COUNT(*) AS BIGINT) AS c
        FROM gaps WHERE gap_s IS NOT NULL GROUP BY gap_s
    ), ranked AS (
        SELECT gap_s, c,
               COALESCE(SUM(c) OVER (ORDER BY gap_s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prev,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM atoms
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
           CAST(MIN(CASE WHEN prev < (n + 1) / 2 AND prev + c >= (n + 1) / 2
                         THEN gap_s END) AS BIGINT) AS median_gap_s,
           CAST(FLOOR(CAST(SUM(gap_s * c) AS DOUBLE) / MAX(n)) AS BIGINT)
               AS mean_gap_s_fl
    FROM ranked
    """,
)
def ingest_block_interval_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Block inter-arrival statistics (round 7) — the chain-health
    readout a datafeed dashboard shows first: min/median/mean/max
    seconds between consecutive blocks.  A drifting median means
    difficulty retarget lag; a huge max is a stall the daemon's
    catch-up (ingest_block_gaps) must absorb; the reference's
    10-minute-target intuition made measurable on the actual feed.

    Exactness: gaps from the height-ordered header tape; the median
    is the atom-table prefix-count pick (exact discrete lower
    median, the agg_percentile_disc program); mean is one floored
    division of exact sums.

    Scale: headers are tiny next to payloads (the ingest_reorg_detect
    argument); the ordered pass runs over the distinct-GAP atom
    table, pre-reduced."""
    raw = read_blocks_json(spark)
    heights = raw.select("height", "timestamp").distinct()
    w = Window.orderBy("height")
    gaps = heights.select(
        (F.col("timestamp") - F.lag("timestamp").over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    atoms = gaps.groupBy("gap_s").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_prev = (
        Window.orderBy("gap_s").rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = atoms.select(
        "gap_s",
        "c",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0)).alias("prev"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    half = (F.col("n") + 1) / 2
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min("gap_s").cast("bigint").alias("min_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
        F.min(
            F.when(
                (F.col("prev") < half) & (F.col("prev") + F.col("c") >= half),
                F.col("gap_s"),
            )
        )
        .cast("bigint")
        .alias("median_gap_s"),
        F.floor(
            F.sum(F.col("gap_s") * F.col("c")).cast("double") / F.max("n")
        )
        .cast("bigint")
        .alias("mean_gap_s_fl"),
    )


@query(
    "ingest_coinbase_subsidy_check",
    f"""
    WITH cb AS (
        SELECT height,
               CAST((tx).total_output AS BIGINT) AS cb_out
        FROM (SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS})
        WHERE (tx).coinbase
    ), expect AS (
        SELECT height, cb_out,
               CAST(5000000000 // power(2, height // 210000) AS BIGINT)
                   AS subsidy
        FROM cb
    )
    SELECT height, cb_out, subsidy,
           CAST(cb_out - subsidy AS BIGINT) AS fee_plus_excess,
           cb_out > subsidy AS exceeds_subsidy
    FROM expect
    """,
)
def ingest_coinbase_subsidy_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Coinbase SUBSIDY audit per block (round 7) — the consensus
    invariant a chain ingest can check for free: the coinbase output
    must equal block subsidy (50 BTC halved every 210 000 blocks) plus
    collected fees; cb_out − subsidy is the implied fee take, and
    cb_out below subsidy means the miner burned coins (rare but real
    — and a parser bug looks exactly like it).  The synthetic feed's
    coinbase values are arbitrary, so the audit mostly FLAGS — which
    is the point: both engines must locate the same violations
    (ingest_balance_running_audit's prey discipline).

    Exact satoshi bigints; the halving shift is power-of-two integer
    arithmetic identical in both engines (fixture heights < 210 000
    keep the exponent at 0-range; the formula is the real schedule).

    Scale: coinbase rows are one per block — header-scale."""
    raw = normalize_blocks(read_blocks_json(spark))
    cb = (
        raw.select("height", F.explode("txs").alias("tx"))
        .filter(F.col("tx.coinbase"))
        .select(
            "height",
            F.col("tx.total_output").cast("bigint").alias("cb_out"),
        )
    )
    subsidy = (
        F.lit(5000000000)
        / F.pow(F.lit(2.0), F.floor(F.col("height") / 210000))
    ).cast("bigint")
    e = cb.select("height", "cb_out", subsidy.alias("subsidy"))
    return e.select(
        "height",
        "cb_out",
        "subsidy",
        (F.col("cb_out") - F.col("subsidy")).cast("bigint").alias(
            "fee_plus_excess"
        ),
        (F.col("cb_out") > F.col("subsidy")).alias("exceeds_subsidy"),
    )


@query(
    "ingest_tx_fanout_census",
    f"""
    WITH txr AS (
        SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), shapes AS (
        SELECT LEAST(len((tx).inputs), 5) AS in_bucket,
               LEAST(len((tx).outputs), 5) AS out_bucket,
               (tx).coinbase AS coinbase
        FROM txr
    )
    SELECT CAST(in_bucket AS BIGINT) AS in_bucket,
           CAST(out_bucket AS BIGINT) AS out_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_txs,
           CAST(COUNT(*) FILTER (coinbase) AS BIGINT) AS n_coinbase
    FROM shapes GROUP BY in_bucket, out_bucket
    """,
)
def ingest_tx_fanout_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction FAN-OUT census (round 7) — the (inputs × outputs)
    shape histogram, capped at 5+: the motif table chain analysts
    read first (many→1 = consolidation sweeps, 1→many =
    batched payouts/distribution, 1→2 = the classic payment+change
    pair, 0→1 = coinbase).  The co-spend heuristic's input-side
    fan-in (ingest_entity_cospend) and the dedup hub-cap discipline
    both key off exactly this distribution.

    Exact bucket counts; the cap keeps the census table ≤36 rows at
    any corpus size.

    Scale: one explode + one keyed aggregate over per-tx array
    LENGTHS — the payload arrays are never exploded."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select(F.explode("txs").alias("tx"))
    shapes = txr.select(
        F.least(F.size("tx.inputs"), F.lit(5)).alias("in_bucket"),
        F.least(F.size("tx.outputs"), F.lit(5)).alias("out_bucket"),
        F.col("tx.coinbase").alias("coinbase"),
    )
    return shapes.groupBy("in_bucket", "out_bucket").agg(
        F.count("*").cast("bigint").alias("n_txs"),
        F.count(F.when(F.col("coinbase"), 1))
        .cast("bigint")
        .alias("n_coinbase"),
    ).select(
        F.col("in_bucket").cast("bigint").alias("in_bucket"),
        F.col("out_bucket").cast("bigint").alias("out_bucket"),
        "n_txs",
        "n_coinbase",
    )


@query(
    "ingest_change_address_heuristic",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT height, (tx).tx_hash AS tx_hash,
               len((tx).outputs) AS n_out, (tx).coinbase AS coinbase,
               (o).address[1] AS address
        FROM (SELECT height, tx, unnest((tx).outputs) AS o FROM txr)
    ), first_seen AS (
        SELECT address, CAST(MIN(height) AS BIGINT) AS first_height
        FROM outs GROUP BY address
    ), flagged AS (
        SELECT o.height, o.tx_hash,
               CASE WHEN o.n_out = 2 AND NOT o.coinbase
                         AND f.first_height = o.height
                    THEN 1 ELSE 0 END AS is_change_candidate
        FROM outs o JOIN first_seen f ON f.address = o.address
    )
    SELECT height,
           CAST(COUNT(*) AS BIGINT) AS n_outputs,
           CAST(SUM(is_change_candidate) AS BIGINT) AS n_change_candidates
    FROM flagged GROUP BY height
    """,
)
def ingest_change_address_heuristic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHANGE-ADDRESS heuristic census (round 7) — GraphSense's other
    clustering signal next to co-spend: in a 2-output non-coinbase
    payment, the output paying a NEVER-SEEN-BEFORE address is the
    likely change back to the spender (fresh-address wallet
    behavior).  This census counts, per block, outputs that satisfy
    the heuristic's structural precondition (2-out, non-coinbase,
    address first appearance at this height) — the candidate stream a
    full change-linking stage (entity merge with co-spend) consumes.

    Exactness: first-appearance is an exact MIN(height) per address;
    the flag is pure integer predicates; per-block counts exact.

    Scale: one address-keyed first-seen aggregate joined back to the
    output stream on address (the partition key the address table is
    stored under), then a height-keyed rollup."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("height", F.explode("txs").alias("tx"))
    outs = txr.select(
        "height",
        F.col("tx.tx_hash").alias("tx_hash"),
        F.size("tx.outputs").alias("n_out"),
        F.col("tx.coinbase").alias("coinbase"),
        F.explode("tx.outputs").alias("o"),
    ).select(
        "height",
        "tx_hash",
        "n_out",
        "coinbase",
        F.col("o.address")[0].alias("address"),
    )
    first_seen = outs.groupBy("address").agg(
        F.min("height").cast("bigint").alias("first_height")
    )
    flagged = outs.join(first_seen, "address").select(
        "height",
        F.when(
            (F.col("n_out") == 2)
            & (~F.col("coinbase"))
            & (F.col("first_height") == F.col("height")),
            1,
        )
        .otherwise(0)
        .alias("is_change_candidate"),
    )
    return flagged.groupBy("height").agg(
        F.count("*").cast("bigint").alias("n_outputs"),
        F.sum("is_change_candidate")
        .cast("bigint")
        .alias("n_change_candidates"),
    )


@query(
    "ingest_peel_shape_census",
    f"""
    WITH txr AS (
        SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), shaped AS (
        SELECT (tx).tx_hash AS tx_hash
        FROM txr
        WHERE NOT (tx).coinbase
          AND len((tx).inputs) = 1 AND len((tx).outputs) = 2
          AND GREATEST((tx).outputs[1].value, (tx).outputs[2].value) * 10
              >= (tx).total_input * 9
    ), base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_txs,
               CAST(COUNT(*) FILTER (NOT (tx).coinbase
                    AND len((tx).inputs) = 1
                    AND len((tx).outputs) = 2) AS BIGINT) AS n_1in2out
        FROM txr
    )
    SELECT b.n_txs, b.n_1in2out,
           CAST((SELECT COUNT(*) FROM shaped) AS BIGINT) AS n_peel_shaped,
           CAST(FLOOR(CAST((SELECT COUNT(*) FROM shaped) AS DOUBLE)
                      / GREATEST(b.n_1in2out, 1) * 1000000) AS BIGINT)
               AS peel_share_e6
    FROM base b
    """,
)
def ingest_peel_shape_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEELING-CHAIN shape census (round 7) — the structural signature
    of automated payout chains (exchanges, mixers): a 1-input/2-output
    transaction whose larger output carries ≥90% of the input value is
    one 'peel' — long runs of them are the chains GraphSense's flow
    tracing follows.  This census measures how much of the 1-in-2-out
    population is peel-shaped — the precondition census the full
    chain-LINKING stage (tx graph traversal over change links)
    consumes, and a corpus-level fingerprint of automated vs organic
    payment traffic.

    Exactness: the ≥90% test is integer cross-multiplication
    (out·10 ≥ in·9 — no float division); one floored share at the
    end.

    Scale: pure per-tx predicates over array lengths and two array
    elements — no explode of payload arrays, one global census
    aggregate."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select(F.explode("txs").alias("tx"))
    is_1in2out = (
        (~F.col("tx.coinbase"))
        & (F.size("tx.inputs") == 1)
        & (F.size("tx.outputs") == 2)
    )
    bigger = F.greatest(
        F.col("tx.outputs")[0]["value"], F.col("tx.outputs")[1]["value"]
    )
    is_peel = is_1in2out & (
        bigger * 10 >= F.col("tx.total_input") * 9
    )
    base = txr.agg(
        F.count("*").cast("bigint").alias("n_txs"),
        F.count(F.when(is_1in2out, 1)).cast("bigint").alias("n_1in2out"),
        F.count(F.when(is_peel, 1)).cast("bigint").alias("n_peel_shaped"),
    )
    return base.select(
        "n_txs",
        "n_1in2out",
        "n_peel_shaped",
        F.floor(
            F.col("n_peel_shaped").cast("double")
            / F.greatest(F.col("n_1in2out"), F.lit(1))
            * 1000000
        )
        .cast("bigint")
        .alias("peel_share_e6"),
    )


@query(
    "ingest_address_reuse_rate",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT height, (o).address[1] AS address
        FROM (SELECT height, unnest((tx).outputs) AS o FROM txr)
    ), first_seen AS (
        SELECT address, CAST(MIN(height) AS BIGINT) AS first_height
        FROM outs GROUP BY address
    )
    SELECT o.height,
           CAST(COUNT(*) AS BIGINT) AS n_outputs,
           CAST(COUNT(*) FILTER (f.first_height < o.height) AS BIGINT)
               AS n_reused,
           CAST(FLOOR(CAST(COUNT(*) FILTER (f.first_height < o.height)
                           AS DOUBLE) / COUNT(*) * 1000000) AS BIGINT)
               AS reuse_share_e6
    FROM outs o JOIN first_seen f ON f.address = o.address
    GROUP BY o.height
    """,
)
def ingest_address_reuse_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Address REUSE rate per block (round 7) — the chain's
    privacy-hygiene metric and the flip side of the change heuristic:
    an output pays a REUSED address when that address first appeared
    at an earlier height.  High reuse = custodial hot wallets and
    merchant addresses (good for clustering, bad for privacy);
    fresh-address wallets push it down.  Trend analysts read this
    series next to ingest_block_interval_stats on the chain-health
    dashboard.

    Exact first-seen MIN(height) join (the change-heuristic
    machinery, reused); strict inequality so a block's own first
    appearances never count as reuse; one floored share per block.

    Scale: one address-keyed aggregate + one address-keyed join +
    height rollup."""
    raw = normalize_blocks(read_blocks_json(spark))
    outs = (
        raw.select("height", F.explode("txs").alias("tx"))
        .select("height", F.explode("tx.outputs").alias("o"))
        .select("height", F.col("o.address")[0].alias("address"))
    )
    first_seen = outs.groupBy("address").agg(
        F.min("height").cast("bigint").alias("first_height")
    )
    reused = F.count(
        F.when(F.col("first_height") < F.col("height"), 1)
    ).cast("bigint")
    return (
        outs.join(first_seen, "address")
        .groupBy("height")
        .agg(
            F.count("*").cast("bigint").alias("n_outputs"),
            reused.alias("n_reused"),
            F.floor(reused.cast("double") / F.count("*") * 1000000)
            .cast("bigint")
            .alias("reuse_share_e6"),
        )
    )


@query(
    "ingest_coin_days_destroyed",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT height, (o).address[1] AS address
        FROM (SELECT height, unnest((tx).outputs) AS o FROM txr)
    ), first_seen AS (
        SELECT address, CAST(MIN(height) AS BIGINT) AS first_height
        FROM outs GROUP BY address
    ), spends AS (
        SELECT height, (i).address[1] AS address,
               CAST((i).value AS BIGINT) AS sat
        FROM (SELECT height, unnest((tx).inputs) AS i FROM txr)
    )
    SELECT s.height,
           CAST(COUNT(*) AS BIGINT) AS n_spends,
           CAST(SUM(s.sat) AS BIGINT) AS sat_moved,
           CAST(SUM(s.sat * GREATEST(s.height - f.first_height, 0))
                AS BIGINT) AS sat_blocks_destroyed
    FROM spends s JOIN first_seen f ON f.address = s.address
    GROUP BY s.height
    """,
)
def ingest_coin_days_destroyed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COIN-BLOCKS DESTROYED per block (round 7) — the classic
    dormancy-weighted flow metric (value × age summed over spends):
    old coins moving is the signal (long-term holders selling, cold
    wallets waking) that raw volume hides.  The fixture's inputs
    carry no outpoint references, so age is the documented
    ADDRESS-AGE approximation — blocks since the spending address
    first RECEIVED (clamped at 0 for addresses never funded on-feed);
    with outpoints present the same program keys on (funding_tx,
    vout) instead of address.

    Exact satoshi·block bigints end to end (sat_moved ≤ 2³³, age ≤
    chain height — products well inside int64 headroom at real chain
    scale when expressed per block).

    Scale: the first-seen table is the change-heuristic aggregate
    reused; one address-keyed join + height rollup."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("height", F.explode("txs").alias("tx"))
    outs = txr.select(
        "height", F.explode("tx.outputs").alias("o")
    ).select("height", F.col("o.address")[0].alias("address"))
    first_seen = outs.groupBy("address").agg(
        F.min("height").cast("bigint").alias("first_height")
    )
    spends = txr.select(
        "height", F.explode("tx.inputs").alias("i")
    ).select(
        "height",
        F.col("i.address")[0].alias("address"),
        F.col("i.value").cast("bigint").alias("sat"),
    )
    age = F.greatest(
        F.col("height") - F.col("first_height"), F.lit(0)
    )
    return (
        spends.join(first_seen, "address")
        .groupBy("height")
        .agg(
            F.count("*").cast("bigint").alias("n_spends"),
            F.sum("sat").cast("bigint").alias("sat_moved"),
            F.sum(F.col("sat") * age)
            .cast("bigint")
            .alias("sat_blocks_destroyed"),
        )
    )


@query(
    "ingest_miner_concentration",
    f"""
    WITH cb AS (
        SELECT (o).address[1] AS miner
        FROM (SELECT unnest((tx).outputs) AS o
              FROM (SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS})
              WHERE (tx).coinbase)
    ), counts AS (
        SELECT miner, CAST(COUNT(*) AS BIGINT) AS blocks
        FROM cb GROUP BY miner
    ), tot AS (
        SELECT CAST(SUM(blocks) AS BIGINT) AS n FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_miners,
           MAX(t.n) AS n_blocks,
           CAST(MAX(blocks) AS BIGINT) AS top_miner_blocks,
           CAST(FLOOR(CAST(SUM(blocks * blocks) AS DOUBLE)
                      / (MAX(t.n) * MAX(t.n)) * 1000000) AS BIGINT)
               AS hhi_e6
    FROM counts CROSS JOIN tot t
    """,
)
def ingest_miner_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Miner concentration HHI (round 7) — the decentralization
    number every chain-health report leads with: the
    Herfindahl–Hirschman index over coinbase payout addresses (the
    standard miner proxy when pools aren't labeled).  HHI → 1/n for
    even hashpower, → 1 under a dominant pool; the 51%-risk
    screening stat, and graph_degree_gini's cousin on the mining
    side.

    Exact block counts; HHI = Σb²/N² as one floored division of
    exact bigints (b ≤ N ≤ chain height — no overflow at any real
    chain size).

    Scale: coinbase rows are one per block; one keyed count + a
    1-row total broadcast."""
    raw = normalize_blocks(read_blocks_json(spark))
    cb = (
        raw.select(F.explode("txs").alias("tx"))
        .filter(F.col("tx.coinbase"))
        .select(F.explode("tx.outputs").alias("o"))
        .select(F.col("o.address")[0].alias("miner"))
    )
    counts = cb.groupBy("miner").agg(
        F.count("*").cast("bigint").alias("blocks")
    )
    tot = counts.agg(F.sum("blocks").cast("bigint").alias("n"))
    j = counts.crossJoin(F.broadcast(tot))
    return j.agg(
        F.count("*").cast("bigint").alias("n_miners"),
        F.max("n").alias("n_blocks"),
        F.max("blocks").cast("bigint").alias("top_miner_blocks"),
        F.floor(
            F.sum(F.col("blocks") * F.col("blocks")).cast("double")
            / (F.max("n") * F.max("n"))
            * 1000000
        )
        .cast("bigint")
        .alias("hhi_e6"),
    )


@query(
    "ingest_dust_output_census",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT height, (o).value AS sat
        FROM (SELECT height, unnest((tx).outputs) AS o FROM txr)
    )
    SELECT height,
           CAST(COUNT(*) AS BIGINT) AS n_outputs,
           CAST(COUNT(*) FILTER (sat < 100000000) AS BIGINT) AS n_dust,
           CAST(COALESCE(SUM(sat) FILTER (sat < 100000000), 0)
                AS BIGINT) AS dust_sat_total,
           CAST(COUNT(*) FILTER (sat < 100000000) * 1000000
                // COUNT(*) AS BIGINT) AS dust_share_e6
    FROM outs GROUP BY height ORDER BY height
    """,
)
def ingest_dust_output_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block DUST-output census (round 10): outputs below the
    1e8-satoshi threshold — count, satoshi mass, and share per block.
    Dust is the UTXO-set pollution vector (dusting attacks tag
    addresses for clustering; economically-unspendable outputs bloat
    every full node forever), so chain-health dashboards track the
    dust share as a leading indicator alongside fee pressure
    (ingest_fee_summary): rising dust + rising fees = outputs being
    minted that will never be worth sweeping.  The threshold is a
    LITERAL by design — the real network's dust limit is a relay
    policy constant, not data-derived.

    ZERO floats: satoshi values are integral, the share is one exact
    integer division (e6).

    Scale: one outputs explode + one height-keyed map-side-combinable
    aggregate — the ingest_fee_summary shape on the output side;
    incremental per block at the daemon's pace."""
    txs = explode_transactions(normalize_blocks(read_blocks_json(spark)))
    outs = txs.select(
        "height", F.explode("outputs").alias("o")
    ).select("height", F.col("o.value").alias("sat"))
    return (
        outs.groupBy("height")
        .agg(
            F.count("*").cast("bigint").alias("n_outputs"),
            F.count_if(F.col("sat") < 100000000)
            .cast("bigint")
            .alias("n_dust"),
            F.coalesce(
                F.sum(F.when(F.col("sat") < 100000000, F.col("sat"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("dust_sat_total"),
            F.expr(
                "CAST(count_if(sat < 100000000) * 1000000 DIV COUNT(*)"
                " AS BIGINT)"
            ).alias("dust_share_e6"),
        )
        .orderBy("height")
    )


@query(
    "ingest_utxo_growth",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), per_block AS (
        SELECT height,
               CAST(SUM(len((tx).outputs)) AS BIGINT) AS created,
               CAST(SUM(len((tx).inputs)) AS BIGINT) AS destroyed
        FROM txr GROUP BY height
    )
    SELECT height, created, destroyed,
           created - destroyed AS net,
           CAST(SUM(created - destroyed)
                OVER (ORDER BY height
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS utxo_set_size
    FROM per_block ORDER BY height
    """,
)
def ingest_utxo_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTXO-set growth series (round 10): per block, outputs created
    minus inputs destroyed, and the running total — the proxy for
    the unspent-output set size every full node must hold in fast
    storage.  THE node-capacity planning series (the real network's
    UTXO count is the headline scalability argument in every
    protocol debate), and the chain-level reconciliation companion
    to ingest_address_balance: the per-address balances must sum to
    the same net flow this series accumulates.

    Exactness: pure integer counts and one ROWS-framed running sum
    over the height order.

    Scale: the running window is a chain-LENGTH frame (one row per
    block — bounded by consensus at ~55k blocks/year, never by tx
    volume), partitioned in production by chain id across currencies
    (ingest_multi_currency's seam); the per-block reduction is
    map-side-combinable on height."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("height", F.explode("txs").alias("tx"))
    per_block = txr.groupBy("height").agg(
        F.sum(F.size("tx.outputs")).cast("bigint").alias("created"),
        F.sum(F.size("tx.inputs")).cast("bigint").alias("destroyed"),
    )
    w = (
        Window.orderBy("height")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_block.select(
        "height",
        "created",
        "destroyed",
        (F.col("created") - F.col("destroyed")).alias("net"),
        F.sum(F.col("created") - F.col("destroyed"))
        .over(w)
        .cast("bigint")
        .alias("utxo_set_size"),
    ).orderBy("height")


@query(
    "ingest_balance_concentration",
    f"""
    WITH txr AS (
        SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), flows AS (
        SELECT (o).address[1] AS address, (o).value AS delta
        FROM (SELECT unnest((tx).outputs) AS o FROM txr)
        UNION ALL
        SELECT (i).address[1] AS address, -(i).value AS delta
        FROM (SELECT unnest((tx).inputs) AS i FROM txr)
    ), bal AS (
        SELECT address, CAST(SUM(delta) AS BIGINT) AS balance
        FROM flows GROUP BY 1 HAVING SUM(delta) > 0
    ), ranked AS (
        SELECT balance,
               row_number() OVER (ORDER BY balance DESC, address ASC)
                   AS rnk,
               CAST(SUM(balance) OVER () AS BIGINT) AS total
        FROM bal
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_addresses,
           CAST(MAX(total) AS BIGINT) AS total_sat,
           CAST(SUM(balance) FILTER (rnk <= 10) AS BIGINT) AS top10_sat,
           CAST(SUM(balance) FILTER (rnk <= 10) * 1000000 // MAX(total)
                AS BIGINT) AS top10_share_e6,
           CAST(SUM((balance // 1000000) * (balance // 1000000))
                AS BIGINT) AS hhi_num_scaled
    FROM ranked
    """,
)
def ingest_balance_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDRESS-BALANCE concentration (round 10): the share of all
    positive on-chain balance held by the top-10 addresses, plus a
    scaled Herfindahl numerator — the wealth-concentration readout
    ("whale watch") every chain-analytics product publishes, and the
    holder-side twin of ingest_miner_concentration's miner HHI.
    Rising top-10 share means custodial consolidation or whale
    accumulation; compliance teams read it as counterparty-risk
    concentration on the asset itself.

    Exactness: balances are exact signed satoshi sums (negative
    balances — the synthetic fixture doesn't conserve — are excluded
    by the positive-balance HAVING, identically both engines); the
    top-10 is rank-pinned (balance DESC, address ASC); the share is
    one exact integer division; the HHI numerator squares
    MEGA-satoshi balances (balance DIV 1e6, then squared) so the sum
    stays in int64 at any balance magnitude; the consumer divides by
    (total DIV 1e6)² for the [0,1] index.

    Scale: one address-keyed exchange (the ingest_address_balance
    plan) + a rank over |addresses-with-balance|; at 100 TB the top-k
    rides WindowGroupLimit and the HHI is a map-side sum."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select(F.explode("txs").alias("tx"))
    outs = txr.select(F.explode("tx.outputs").alias("o")).select(
        F.col("o.address")[0].alias("address"),
        F.col("o.value").alias("delta"),
    )
    ins = txr.select(F.explode("tx.inputs").alias("i")).select(
        F.col("i.address")[0].alias("address"),
        (-F.col("i.value")).alias("delta"),
    )
    bal = (
        outs.unionAll(ins)
        .groupBy("address")
        .agg(F.sum("delta").cast("bigint").alias("balance"))
        .filter(F.col("balance") > 0)
    )
    ranked = bal.select(
        "balance",
        F.row_number()
        .over(Window.orderBy(F.col("balance").desc(), F.col("address").asc()))
        .alias("rnk"),
        F.sum("balance").over(Window.partitionBy()).cast("bigint").alias("total"),
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_addresses"),
        F.max("total").cast("bigint").alias("total_sat"),
        F.sum(F.when(F.col("rnk") <= 10, F.col("balance")))
        .cast("bigint")
        .alias("top10_sat"),
        F.expr(
            "CAST(SUM(CASE WHEN rnk <= 10 THEN balance END) * 1000000"
            " DIV MAX(total) AS BIGINT)"
        ).alias("top10_share_e6"),
        F.sum(F.expr("(balance DIV 1000000) * (balance DIV 1000000)"))
        .cast("bigint")
        .alias("hhi_num_scaled"),
    )


@query(
    "ingest_fifo_value_attribution",
    f"""
    WITH txr AS (
        SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), ntx AS (
        SELECT (tx).tx_hash AS tx_hash, (tx).inputs AS ins,
               (tx).outputs AS outs
        FROM txr
        WHERE NOT (tx).coinbase
          AND len((tx).inputs) > 0 AND len((tx).outputs) > 0
    ), iraw AS (
        SELECT tx_hash, unnest(range(1, len(ins) + 1)) AS i, ins
        FROM ntx
    ), ipos AS (
        SELECT tx_hash, CAST(i AS BIGINT) AS in_pos,
               (ins[i]).address[1] AS in_addr,
               CAST((ins[i]).value AS BIGINT) AS v,
               CAST(SUM((ins[i]).value) OVER (
                   PARTITION BY tx_hash ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_i
        FROM iraw
    ), oraw AS (
        SELECT tx_hash, unnest(range(1, len(outs) + 1)) AS j, outs
        FROM ntx
    ), opos AS (
        SELECT tx_hash, CAST(j AS BIGINT) AS out_pos,
               (outs[j]).address[1] AS out_addr,
               CAST((outs[j]).value AS BIGINT) AS w,
               CAST(SUM((outs[j]).value) OVER (
                   PARTITION BY tx_hash ORDER BY j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_o
        FROM oraw
    )
    SELECT i.tx_hash, i.in_pos, i.in_addr, o.out_pos, o.out_addr,
           CAST(LEAST(i.cum_i, o.cum_o)
                - GREATEST(i.cum_i - i.v, o.cum_o - o.w) AS BIGINT)
               AS matched_sat
    FROM ipos i JOIN opos o ON i.tx_hash = o.tx_hash
     AND i.cum_i - i.v < o.cum_o AND o.cum_o - o.w < i.cum_i
    ORDER BY i.tx_hash, i.in_pos, o.out_pos
    """,
)
def ingest_fifo_value_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO VALUE ATTRIBUTION within each transaction (round 10) —
    the taint-tracking primitive of UTXO forensics: line the inputs
    and outputs up in position order as two interval partitions of
    the same satoshi axis, and attribute to each (input, output)
    pair the OVERLAP of their cumulative-sum intervals — the FIFO
    rule courts and compliance tooling actually apply ("first coin
    in is first coin out"), in contrast to the haircut/proportional
    rule (ingest_entity_cospend's clustering is WHO, this is HOW
    MUCH of WHOSE value went WHERE).  Emits the positional flow
    matrix with exact matched satoshis; the synthetic fixture does
    not conserve value, so attribution covers min(total_in,
    total_out) per tx and the remainder is unmatched by
    construction (documented, identical both engines).

    Exactness: cumulative sums, interval bounds and overlaps are
    pure bigint arithmetic — the interval-intersection identity
    max(0, min(hi)−max(lo)) needs no floats, and the join predicate
    (strict interval overlap) makes the max(0,·) clamp unnecessary.

    Scale: the pair domain is interval-overlap WITHIN a tx — for a
    tx with m inputs and n outputs the overlap chain has at most
    m + n − 1 pairs (not m·n), the classic sorted-interval zip; the
    running sums ride one tx-keyed window each, and the join keys on
    tx_hash so pairs never leave their partition."""
    raw = normalize_blocks(read_blocks_json(spark))
    ntx = (
        raw.select(F.explode("txs").alias("tx"))
        .filter(
            (~F.col("tx.coinbase"))
            & (F.size("tx.inputs") > 0)
            & (F.size("tx.outputs") > 0)
        )
        .select(
            F.col("tx.tx_hash").alias("tx_hash"),
            F.col("tx.inputs").alias("ins"),
            F.col("tx.outputs").alias("outs"),
        )
    )
    wi = (
        Window.partitionBy("tx_hash")
        .orderBy("in_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ipos = ntx.select(
        "tx_hash", F.posexplode("ins").alias("p", "inp")
    ).select(
        "tx_hash",
        (F.col("p") + 1).cast("bigint").alias("in_pos"),
        F.col("inp.address")[0].alias("in_addr"),
        F.col("inp.value").cast("bigint").alias("v"),
    ).withColumn("cum_i", F.sum("v").over(wi).cast("bigint"))
    wo = (
        Window.partitionBy("tx_hash")
        .orderBy("out_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    opos = ntx.select(
        "tx_hash", F.posexplode("outs").alias("p", "outp")
    ).select(
        "tx_hash",
        (F.col("p") + 1).cast("bigint").alias("out_pos"),
        F.col("outp.address")[0].alias("out_addr"),
        F.col("outp.value").cast("bigint").alias("w"),
    ).withColumn("cum_o", F.sum("w").over(wo).cast("bigint"))
    j = ipos.join(opos, "tx_hash").filter(
        (F.col("cum_i") - F.col("v") < F.col("cum_o"))
        & (F.col("cum_o") - F.col("w") < F.col("cum_i"))
    )
    return j.select(
        "tx_hash",
        "in_pos",
        "in_addr",
        "out_pos",
        "out_addr",
        (
            F.least("cum_i", "cum_o")
            - F.greatest(F.col("cum_i") - F.col("v"), F.col("cum_o") - F.col("w"))
        )
        .cast("bigint")
        .alias("matched_sat"),
    ).orderBy("tx_hash", "in_pos", "out_pos")


@query(
    "ingest_entity_size_distribution",
    f"""
    WITH RECURSIVE txin AS (
        SELECT (tx).tx_hash AS tx_hash, unnest((tx).inputs) AS i
        FROM (SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS})
        WHERE NOT (tx).coinbase
    ), base AS (
        SELECT tx_hash, (i).address[1] AS addr FROM txin
    ), edges AS (
        SELECT DISTINCT a.addr AS src, b.addr AS dst
        FROM base a JOIN base b USING (tx_hash) WHERE a.addr < b.addr
    ), sym AS (
        SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ), nodes AS (SELECT DISTINCT addr FROM base),
    entities AS (
        SELECT n.addr, least(n.addr, coalesce(min(r.dst), n.addr)) AS entity
        FROM nodes n LEFT JOIN reach r ON n.addr = r.src
        GROUP BY n.addr
    ), sizes AS (
        SELECT entity, CAST(COUNT(*) AS BIGINT) AS n_addrs
        FROM entities GROUP BY entity
    ), bucketed AS (
        SELECT CAST(length(bin(n_addrs)) - 1 AS BIGINT) AS size_log2,
               n_addrs
        FROM sizes
    )
    SELECT size_log2,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(n_addrs) AS BIGINT) AS addr_mass,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_entities,
           CAST(SUM(SUM(n_addrs)) OVER () AS BIGINT) AS total_addrs,
           CAST(MAX(MAX(n_addrs)) OVER () AS BIGINT) AS largest_entity,
           CAST(MAX(MAX(n_addrs)) OVER () * 1000000
                // SUM(SUM(n_addrs)) OVER () AS BIGINT)
               AS largest_share_e6
    FROM bucketed GROUP BY size_log2 ORDER BY size_log2
    """,
)
def ingest_entity_size_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ENTITY-SIZE distribution (round 10): the co-spend clustering's
    QUALITY readout — a log₂ histogram of entity sizes plus the
    largest entity's address share.  This is the first table a
    chain-analytics reviewer checks after any clustering change: a
    healthy co-spend clustering is many small entities with a heavy
    but bounded tail; a SUPER-CLUSTER absorbing a large share of all
    addresses (the classic false-merge cascade — one shared address
    glues exchanges together) means the heuristic broke, and every
    downstream entity metric silently denominates wrong.  Completes
    the entity kit: cospend (assignment), entity_summary (per-entity
    rollup), this (the distributional audit that gates both).

    Exactness: sizes, buckets (length(bin(n))−1 — exact integer log₂
    with NO float boundary at powers of two), masses and the share
    are all exact integers.

    Scale: reuses the cospend assignment (iterative label
    propagation over input-edge components); downstream is an
    |entities|-keyed count plus a ≤64-row bucket rollup."""
    ent = ingest_entity_cospend(spark, sf_dir)
    sizes = ent.groupBy("entity").agg(
        F.count("*").cast("bigint").alias("n_addrs")
    )
    bucketed = sizes.select(
        (F.length(F.bin("n_addrs")) - 1).cast("bigint").alias("size_log2"),
        "n_addrs",
    )
    g = bucketed.groupBy("size_log2").agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.sum("n_addrs").cast("bigint").alias("addr_mass"),
        F.max("n_addrs").cast("bigint").alias("_bucket_max"),
    )
    w = Window.partitionBy()
    return (
        g.select(
            "size_log2",
            "n_entities",
            "addr_mass",
            F.sum("n_entities").over(w).cast("bigint").alias("total_entities"),
            F.sum("addr_mass").over(w).cast("bigint").alias("total_addrs"),
            F.max("_bucket_max").over(w).cast("bigint").alias("largest_entity"),
            F.expr(
                "CAST(MAX(_bucket_max) OVER () * 1000000"
                " DIV SUM(addr_mass) OVER () AS BIGINT)"
            ).alias("largest_share_e6"),
        )
        .orderBy("size_log2")
    )


@query(
    "ingest_structuring_detector",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), near AS (
        SELECT height, (o).address[1] AS address, (o).value AS sat
        FROM (SELECT height, unnest((tx).outputs) AS o FROM txr
              WHERE NOT (tx).coinbase)
        WHERE (o).value >= 1250000000 AND (o).value < 2500000000
    ), windowed AS (
        SELECT address, height,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_near_5blk,
               CAST(SUM(sat) OVER w AS BIGINT) AS sat_near_5blk
        FROM near
        WINDOW w AS (PARTITION BY address ORDER BY height
                     RANGE BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT DISTINCT address, height, n_near_5blk, sat_near_5blk,
           CASE WHEN n_near_5blk >= 3 THEN 1 ELSE 0 END AS flagged
    FROM windowed WHERE n_near_5blk >= 2
    ORDER BY address, height
    """,
)
def ingest_structuring_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURING (smurfing) detector (round 10) — the AML screen
    the reference's ecosystem exists to serve: an address receiving
    REPEATED just-under-threshold amounts inside a short block window
    is the canonical pattern of splitting one reportable transfer
    into many sub-reporting-limit pieces.  The band [T/2, T) under
    the reporting threshold T and the 5-block trailing RANGE window
    are the policy knobs; emitted rows carry the trailing count and
    satoshi mass with the ≥3-hits flag — the alert queue an
    investigator triages, with the n=2 rows as the watchlist.
    Complements events_velocity_rule (rate-based, behavioral) with
    the amount-shape rule regulators actually codify.

    Exactness: satoshi bands, block-RANGE frames keyed on integral
    heights, counts and masses — all exact integers; DISTINCT
    collapses equal-height duplicates identically in both engines
    (RANGE frames make same-height rows peers, so their window
    values are identical by definition).

    Scale: the band filter prunes at the scan; the window partitions
    by address over the filtered slice (the datafeed's at-rest
    partition key), RANGE-framed on height so reorg-replays
    re-evaluate only the affected window."""
    txs = explode_transactions(normalize_blocks(read_blocks_json(spark)))
    near = (
        txs.filter(~F.col("coinbase"))
        .select("height", F.explode("outputs").alias("o"))
        .select(
            "height",
            F.col("o.address")[0].alias("address"),
            F.col("o.value").alias("sat"),
        )
        .filter((F.col("sat") >= 1250000000) & (F.col("sat") < 2500000000))
    )
    w = (
        Window.partitionBy("address")
        .orderBy("height")
        .rangeBetween(-4, Window.currentRow)
    )
    windowed = near.select(
        "address",
        "height",
        F.count("*").over(w).cast("bigint").alias("n_near_5blk"),
        F.sum("sat").over(w).cast("bigint").alias("sat_near_5blk"),
    )
    return (
        windowed.filter(F.col("n_near_5blk") >= 2)
        .select(
            "address",
            "height",
            "n_near_5blk",
            "sat_near_5blk",
            F.when(F.col("n_near_5blk") >= 3, 1).otherwise(0).alias("flagged"),
        )
        .distinct()
        .orderBy("address", "height")
    )


@query(
    "ingest_fee_percentiles",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), fees AS (
        SELECT height,
               (tx).total_input - (tx).total_output AS fee
        FROM txr WHERE NOT (tx).coinbase
    )
    SELECT height,
           CAST(COUNT(*) AS BIGINT) AS n_tx,
           CAST(quantile_disc(fee, 0.25) AS BIGINT) AS fee_p25,
           CAST(quantile_disc(fee, 0.5) AS BIGINT) AS fee_p50,
           CAST(quantile_disc(fee, 0.75) AS BIGINT) AS fee_p75,
           CAST(quantile_disc(fee, 0.9) AS BIGINT) AS fee_p90
    FROM fees GROUP BY height ORDER BY height
    """,
)
def ingest_fee_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block FEE PERCENTILES (round 10): the discrete p25/50/75/90
    of the fee distribution inside each block — the actual input a
    fee ESTIMATOR consumes (ingest_fee_summary's min/mean/max hides
    the congestion signal: median and p90 fees are what wallets bid
    against, and the p75/p25 spread is the block's fee-market
    dispersion).  Completes the fee family: summary (totals),
    percentiles (the bid curve), dust census (the pollution side).

    ZERO floats: percentile_disc picks actual satoshi elements —
    every output column is an exact integer (negative synthetic fees
    summarized as-is, identically both engines).

    Scale: one explode + height-keyed discrete-quantile aggregate —
    incremental per block at the daemon's pace."""
    txs = explode_transactions(normalize_blocks(read_blocks_json(spark)))
    fees = txs.filter(~F.col("coinbase")).select(
        "height", (F.col("total_input") - F.col("total_output")).alias("fee")
    )
    return (
        fees.groupBy("height")
        .agg(
            F.count("*").cast("bigint").alias("n_tx"),
            *[
                F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY fee)")
                .cast("bigint")
                .alias(name)
                for p, name in (
                    (0.25, "fee_p25"),
                    (0.5, "fee_p50"),
                    (0.75, "fee_p75"),
                    (0.9, "fee_p90"),
                )
            ],
        )
        .orderBy("height")
    )


@query(
    "ingest_round_amount_census",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT height, (o).value AS sat
        FROM (SELECT height, unnest((tx).outputs) AS o FROM txr
              WHERE NOT (tx).coinbase)
    )
    SELECT height,
           CAST(COUNT(*) AS BIGINT) AS n_outputs,
           CAST(COUNT(*) FILTER (sat % 100000000 = 0) AS BIGINT)
               AS n_round_1e8,
           CAST(COUNT(*) FILTER (sat % 1000000000 = 0) AS BIGINT)
               AS n_round_1e9,
           CAST(COUNT(*) FILTER (sat % 100000000 = 0) * 1000000
                // COUNT(*) AS BIGINT) AS round_share_e6,
           CAST(COUNT(*) FILTER (sat % 10000 <> 0) AS BIGINT)
               AS n_dusty_tail
    FROM outs GROUP BY height ORDER BY height
    """,
)
def ingest_round_amount_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUND-AMOUNT census (round 10): per block, how many outputs
    are exact multiples of 1e8 / 1e9 satoshis and how many carry a
    non-zero sub-1e4 tail — the amount-SHAPE forensic next to
    agg_benford_profile's digit view: humans send ROUND amounts
    (manual transfers, OTC settlements), while change outputs and
    fee-optimizing software produce ragged tails.  A block (or
    address) whose round share spikes is hand-driven flow; the
    round-amount side of a payment is also the classic change-
    detection tiebreaker when ingest_change_address_heuristic is
    ambiguous.  ZERO floats: modulo tests and one exact integer
    share.

    Scale: one explode + height-keyed conditional counts — the
    ingest_fee_summary shape on the output side."""
    txs = explode_transactions(normalize_blocks(read_blocks_json(spark)))
    outs = (
        txs.filter(~F.col("coinbase"))
        .select("height", F.explode("outputs").alias("o"))
        .select("height", F.col("o.value").alias("sat"))
    )
    return (
        outs.groupBy("height")
        .agg(
            F.count("*").cast("bigint").alias("n_outputs"),
            F.count_if(F.col("sat") % 100000000 == 0)
            .cast("bigint")
            .alias("n_round_1e8"),
            F.count_if(F.col("sat") % 1000000000 == 0)
            .cast("bigint")
            .alias("n_round_1e9"),
            F.expr(
                "CAST(count_if(sat % 100000000 = 0) * 1000000"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("round_share_e6"),
            F.count_if(F.col("sat") % 10000 != 0)
            .cast("bigint")
            .alias("n_dusty_tail"),
        )
        .orderBy("height")
    )


@query(
    "ingest_hodl_waves",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), outs AS (
        SELECT height, (o).address[1] AS address,
               CAST((o).value AS BIGINT) AS sat
        FROM (SELECT height, unnest((tx).outputs) AS o FROM txr)
    ), ins AS (
        SELECT (i).address[1] AS address, CAST((i).value AS BIGINT) AS sat
        FROM (SELECT unnest((tx).inputs) AS i FROM txr)
    ), addr AS (
        SELECT o.address,
               CAST(SUM(o.sat) AS BIGINT) AS received,
               CAST(MAX(o.height) AS BIGINT) AS last_height
        FROM outs o GROUP BY 1
    ), spent AS (
        SELECT address, CAST(SUM(sat) AS BIGINT) AS spent
        FROM ins GROUP BY 1
    ), bal AS (
        SELECT a.address,
               GREATEST(a.received - COALESCE(s.spent, 0), 0) AS sat_held,
               (SELECT MAX(height) FROM txr) - a.last_height AS age
        FROM addr a LEFT JOIN spent s ON s.address = a.address
    )
    SELECT CAST(CASE WHEN age = 0 THEN 0
                ELSE CAST(FLOOR(LN(CAST(age AS DOUBLE)) / LN(2.0))
                     AS BIGINT) + 1 END AS BIGINT) AS age_band_log2,
           CAST(COUNT(*) FILTER (sat_held > 0) AS BIGINT) AS n_addresses,
           CAST(SUM(sat_held) AS BIGINT) AS sat_held,
           CAST(FLOOR(CAST(SUM(sat_held) AS DOUBLE) * 1000000
                / CAST((SELECT SUM(GREATEST(a2.received
                                        - COALESCE(s2.spent, 0), 0))
                    FROM addr a2 LEFT JOIN spent s2
                      ON s2.address = a2.address) AS DOUBLE))
                AS BIGINT) AS share_e6
    FROM bal GROUP BY 1 ORDER BY 1
    """,
)
def ingest_hodl_waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HODL WAVES (round 11): the held (unspent) value of the chain
    tip binned by dormancy age — the supply-age stratigraphy chart
    every on-chain analyst reads for holder-conviction cycles (young
    bands swell in speculation, old bands in accumulation).  The
    flow twin of ingest_coin_days_destroyed (that op weighs what
    MOVED by its age; this one weighs what STAYED): with the feed's
    documented address-age approximation, an address's remaining
    balance (received − spent, clamped ≥ 0) ages from its LAST
    funding height; age bands are log2 (0, 1, 2-3, 4-7, ... blocks).

    Exactness: balances, ages, and band sums are exact satoshi/block
    bigints; the log2 band index floors one double log chain on
    small integers; shares are ONE floored double chain against the
    total held supply (a bigint sat*1e6 product would overflow int64
    at real-chain magnitudes — round-11 review finding).

    Scale: two address-keyed aggregates + one keyed left join (the
    ingest_address_balance shape) and a band-bounded rollup; the tip
    height is a 1-row broadcast."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("height", F.explode("txs").alias("tx"))
    outs = txr.select(
        "height", F.explode("tx.outputs").alias("o")
    ).select(
        "height",
        F.col("o.address")[0].alias("address"),
        F.col("o.value").cast("bigint").alias("sat"),
    )
    ins = txr.select(F.explode("tx.inputs").alias("i")).select(
        F.col("i.address")[0].alias("address"),
        F.col("i.value").cast("bigint").alias("sat"),
    )
    addr = outs.groupBy("address").agg(
        F.sum("sat").cast("bigint").alias("received"),
        F.max("height").cast("bigint").alias("last_height"),
    )
    spent = ins.groupBy("address").agg(
        F.sum("sat").cast("bigint").alias("spent")
    )
    tip = txr.agg(F.max("height").cast("bigint").alias("tip"))
    bal = (
        addr.join(spent, "address", "left")
        .crossJoin(F.broadcast(tip))
        .select(
            F.greatest(
                F.col("received") - F.coalesce(F.col("spent"), F.lit(0)),
                F.lit(0),
            ).alias("sat_held"),
            (F.col("tip") - F.col("last_height")).alias("age"),
        )
    )
    band = F.when(F.col("age") == 0, F.lit(0)).otherwise(
        F.floor(F.log(F.col("age").cast("double")) / F.log(F.lit(2.0)))
        .cast("bigint")
        + 1
    )
    total = bal.agg(F.sum("sat_held").cast("bigint").alias("total_held"))
    return (
        bal.groupBy(band.cast("bigint").alias("age_band_log2"))
        .agg(
            F.count_if(F.col("sat_held") > 0)
            .cast("bigint")
            .alias("n_addresses"),
            F.sum("sat_held").cast("bigint").alias("sat_held"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "age_band_log2",
            "n_addresses",
            "sat_held",
            # one floored double chain — the bigint product
            # sat_held*1e6 overflows int64 at real-chain magnitudes
            # (round-11 review finding)
            F.floor(
                F.col("sat_held").cast("double")
                * 1000000
                / F.col("total_held").cast("double")
            )
            .cast("bigint")
            .alias("share_e6"),
        )
        .orderBy("age_band_log2")
    )


@query(
    "ingest_fee_size_elasticity",
    f"""
    WITH txr AS (
        SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), txf AS (
        SELECT CAST(((tx).total_input - (tx).total_output) // 1000
                    AS BIGINT) AS fee,
               CAST(len((tx).inputs) + len((tx).outputs) AS BIGINT) AS io
        FROM txr WHERE NOT (tx).coinbase
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(io) AS BIGINT) AS sx,
               CAST(SUM(fee) AS BIGINT) AS sy,
               CAST(SUM(io * io) AS BIGINT) AS sxx,
               CAST(SUM(io * fee) AS BIGINT) AS sxy,
               CAST(SUM(fee * fee) AS BIGINT) AS syy
        FROM txf
    )
    SELECT n,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 10000)
                AS BIGINT) AS ksat_per_io_e4,
           CAST(FLOOR((CAST(sy AS DOUBLE) * sxx
                       - CAST(sx AS DOUBLE) * sxy)
                      / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
               AS base_fee_ksat,
           CAST(FLOOR(POW(CAST(n * sxy - sx * sy AS DOUBLE), 2)
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE))
                      * 1000000) AS BIGINT) AS r2_e6
    FROM sums
    """,
)
def ingest_fee_size_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FEE-vs-SIZE ELASTICITY (round 11): regress each transaction's
    fee on its input+output count — ksat_per_io is the marginal price
    of one more UTXO touched (the number fee estimators and
    consolidation planners actually trade on: consolidate when
    sat_per_io is low), base_fee the fixed component, R² how much of
    fee variance size explains at all (low R² = fees are
    priority-driven, not size-driven — a regime signal).  The feed
    carries no serialized byte size, so io count is the documented
    size proxy (exact, and proportional to vsize for standard
    scripts).

    Exactness: fees carry in ksat units (integer division by 1000 —
    the raw-satoshi squares overflow int64 on this feed's value
    range, caught at registration); io counts exact; the n-cleared
    co-moments are exact bigints; slope/intercept/R² fold in ONE
    double chain each, floored.

    Scale: one explode pass → 1-row sums → closed-form fold; no
    windows, no joins."""
    raw = normalize_blocks(read_blocks_json(spark))
    txf = (
        raw.select(F.explode("txs").alias("tx"))
        .filter(~F.col("tx.coinbase"))
        .select(
            ((F.col("tx.total_input") - F.col("tx.total_output")) / 1000)
            .cast("bigint")
            .alias("fee"),
            (F.size("tx.inputs") + F.size("tx.outputs"))
            .cast("bigint")
            .alias("io"),
        )
    )
    sums = txf.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("io").cast("bigint").alias("sx"),
        F.sum("fee").cast("bigint").alias("sy"),
        F.sum(F.col("io") * F.col("io")).cast("bigint").alias("sxx"),
        F.sum(F.col("io") * F.col("fee")).cast("bigint").alias("sxy"),
        F.sum(F.col("fee") * F.col("fee")).cast("bigint").alias("syy"),
    )
    n = F.col("n")
    a = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    b = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    c = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    return sums.select(
        "n",
        F.floor(a / b * 10000).cast("bigint").alias("ksat_per_io_e4"),
        F.floor((d("sy") * d("sxx") - d("sx") * d("sxy")) / b)
        .cast("bigint")
        .alias("base_fee_ksat"),
        F.floor(a * a / (b * c) * 1000000).cast("bigint").alias("r2_e6"),
    )


def _ppr_oracle_sql(iters: int = 10) -> str:
    """Unrolled exact oracle for PERSONALIZED PageRank: identical hop
    structure to _pagerank_oracle_sql, but teleport and the dangling
    redirect both target the md5-chosen SEED SET instead of all
    nodes, and the walk starts uniform on the seeds."""
    s = PAGERANK_SCALE
    head = _DUCK_FLOW_GRAPH + f""", seeds AS MATERIALIZED (
        SELECT node FROM nodes
        WHERE CAST('0x' || substr(md5('ppr:' || node), 1, 4) AS BIGINT)
              % 16 = 0
    ), ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seeds
    ), outdeg AS MATERIALIZED (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY src
    ), pr0 AS MATERIALIZED (
        SELECT n.node,
               CAST(CASE WHEN s.node IS NOT NULL
                    THEN {s} // (SELECT n FROM ns) ELSE 0 END AS BIGINT)
                   AS r
        FROM nodes n LEFT JOIN seeds s ON s.node = n.node
    )"""
    return unrolled_cte(
        head,
        lambda i: _pagerank_round_sql(i, f"""
        SELECT n.node,
               CAST(CASE WHEN sd.node IS NOT NULL
                    THEN 3 * {s} // (20 * (SELECT n FROM ns))
                    ELSE 0 END
                    + 17 * (COALESCE(c.contrib, 0)
                            + CASE WHEN sd.node IS NOT NULL
                              THEN (SELECT d FROM dang{i})
                                   // (SELECT n FROM ns) ELSE 0 END) // 20
                    AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN contrib{i} c ON c.node = n.node
        LEFT JOIN seeds sd ON sd.node = n.node"""),
        iters,
        f"\n    SELECT node AS addr, r AS rank_e12 FROM pr{iters}"
        " WHERE r > 0",
    )


@query("graph_pagerank_personalized", _ppr_oracle_sql())
def graph_pagerank_personalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERSONALIZED PAGERANK (round 11) from an md5-frozen seed set
    (1/16 of addresses): teleport AND the dangling redirect both
    return to the seeds, so the stationary mass measures importance
    RELATIVE TO the seed wallets — the taint/recommendation
    primitive a global PageRank cannot express ('how exposed is each
    address to value flowing from THESE wallets'), and the
    graph-side generalization of ingest_fifo_value_attribution's
    per-hop taint to the full random-walk closure.

    Exactness: the graph_pagerank integer discipline unchanged —
    e12 bigint ranks, 17/20 damping, integer divisions everywhere;
    teleport/dangling mass goes to seeds via the same DIV-by-|S|
    floor; the 10-hop unrolled DuckDB CTE reproduces the distributed
    result bit-for-bit (zero-mass nodes dropped in both engines).

    Scale: graph_pagerank's loop (pagerank_iterate) with the seed
    predicate as its teleport set; the integer fixpoint early-exit
    argument carries over verbatim."""
    is_seed = md5_int(F.lit("ppr:"), F.col("addr"), digits=4) % 16 == 0
    ranks = pagerank_iterate(flow_edges(spark), max_iter=10, teleport=is_seed)
    return ranks.state.filter(F.col("rank_e12") > 0)


@query(
    "ingest_monetary_velocity",
    f"""
    WITH txr AS (
        SELECT height, unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), minted AS (
        SELECT height,
               CAST(SUM((o).value) AS BIGINT) AS mint
        FROM (SELECT height, unnest((tx).outputs) AS o
              FROM txr WHERE (tx).coinbase)
        GROUP BY height
    ), moved AS (
        SELECT height,
               CAST(SUM((i).value) AS BIGINT) AS sat_moved
        FROM (SELECT height, unnest((tx).inputs) AS i
              FROM txr WHERE NOT (tx).coinbase)
        GROUP BY height
    ), buckets AS (
        SELECT CAST(height // 10 AS BIGINT) AS bucket,
               CAST(COALESCE(SUM(m.sat_moved), 0) AS BIGINT) AS moved,
               CAST(MAX(height) AS BIGINT) AS bucket_end
        FROM (SELECT DISTINCT height FROM txr) h
        LEFT JOIN moved m USING (height)
        GROUP BY 1
    ), supply AS (
        SELECT b.bucket, b.moved, b.bucket_end,
               CAST((SELECT SUM(mint) FROM minted mm
                     WHERE mm.height <= b.bucket_end) AS BIGINT)
                   AS supply_at_end
        FROM buckets b
    )
    SELECT bucket, moved, supply_at_end,
           CAST(FLOOR(CAST(moved AS DOUBLE) * 1000000
                      / CAST(supply_at_end AS DOUBLE)) AS BIGINT)
               AS velocity_e6
    FROM supply ORDER BY bucket
    """,
)
def ingest_monetary_velocity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MONETARY VELOCITY per 10-block bucket (round 11): value moved
    (non-coinbase input sum) over the coinbase-minted supply
    outstanding at the bucket's end — the on-chain turnover rate
    that separates a chain being USED from a chain being HELD
    (velocity collapsing while supply grows = accumulation regime;
    the flow-rate complement to ingest_hodl_waves' stock-age view
    and coin_days_destroyed's age-weighted flow).

    Exactness: minted/moved sums exact satoshi bigints; the
    cumulative supply is an exact half-open sum per bucket; velocity
    is ONE floored double chain (a sat×1e6 bigint product would
    overflow at real-chain supply — the round-11 hodl_waves
    discipline).

    Scale: two explode passes + a height-bucket rollup, then the
    running supply as a window cumsum over the pre-reduced
    |buckets|-row tape (bucket = height/10 — calendar-class
    bounded single-partition window, the repo's ts discipline).
    Round 12 replaced the original m_height <= bucket_end
    broadcast theta-join (BNLJ, |buckets|x|minted| pairs — a
    scale-killer at real chain length, VERDICT r11 What's-wrong
    #2) with this per-bucket mint rollup + cumsum: exact because
    minted heights are a subset of txr heights, every height in
    bucket b is <= bucket_end(b), and every height in a later
    bucket is > bucket_end(b); windowed SUM stays NULL until the
    first minting bucket, matching the oracle's scalar-subquery
    NULL semantics."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("height", F.explode("txs").alias("tx"))
    minted = (
        txr.filter(F.col("tx.coinbase"))
        .select("height", F.explode("tx.outputs").alias("o"))
        .groupBy("height")
        .agg(F.sum("o.value").cast("bigint").alias("mint"))
    )
    moved = (
        txr.filter(~F.col("tx.coinbase"))
        .select("height", F.explode("tx.inputs").alias("i"))
        .groupBy("height")
        .agg(F.sum("i.value").cast("bigint").alias("sat_moved"))
    )
    heights = txr.select("height").distinct()
    buckets = (
        heights.join(moved, "height", "left")
        .groupBy((F.col("height") / 10).cast("bigint").alias("bucket"))
        .agg(
            F.coalesce(F.sum("sat_moved"), F.lit(0))
            .cast("bigint")
            .alias("moved"),
            F.max("height").cast("bigint").alias("bucket_end"),
        )
    )
    mint_b = minted.groupBy(
        (F.col("height") / 10).cast("bigint").alias("bucket")
    ).agg(F.sum("mint").cast("bigint").alias("mint_b"))
    cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    supply = (
        buckets.join(mint_b, "bucket", "left")
        .withColumn(
            "supply_at_end", F.sum("mint_b").over(cum).cast("bigint")
        )
        .drop("mint_b")
    )
    return supply.select(
        "bucket",
        "moved",
        "supply_at_end",
        F.floor(
            F.col("moved").cast("double")
            * 1000000
            / F.col("supply_at_end").cast("double")
        )
        .cast("bigint")
        .alias("velocity_e6"),
    ).orderBy("bucket")


@query(
    "ingest_realized_cap",
    f"""
    WITH blocks AS (
        SELECT height,
               CAST(make_timestamp(timestamp * 1000000) AS DATE)
                   AS block_date,
               txs
        FROM {_DUCK_BLOCKS}
    ), txr AS (
        SELECT block_date, unnest(txs) AS tx FROM blocks
    ), outs AS (
        SELECT (o).address[1] AS address, block_date,
               CAST(SUM((o).value) AS BIGINT) AS recv
        FROM (SELECT block_date, unnest((tx).outputs) AS o FROM txr)
        GROUP BY 1, 2
    ), ins AS (
        SELECT (i).address[1] AS address,
               CAST(SUM((i).value) AS BIGINT) AS spent
        FROM (SELECT unnest((tx).inputs) AS i FROM txr)
        GROUP BY 1
    ), addr AS (
        SELECT o.address,
               CAST(SUM(o.recv) AS BIGINT) AS recv,
               CAST(MAX(o.block_date) AS DATE) AS last_recv_day
        FROM outs o GROUP BY 1
    ), bal AS (
        SELECT a.address, a.last_recv_day,
               CAST(a.recv - COALESCE(i.spent, 0) AS BIGINT) AS balance
        FROM addr a LEFT JOIN ins i USING (address)
    ), rates AS (
        SELECT CAST(date AS DATE) AS rate_date, CAST(usd AS DOUBLE) AS usd
        FROM read_csv('{RATES_CSV}', header=true)
    ), held AS (
        SELECT b.address, b.balance,
               CAST(FLOOR(CAST(b.balance AS DOUBLE) / 100000000.0
                          * r.usd * 100) AS BIGINT) AS cents
        FROM bal b JOIN rates r ON r.rate_date = b.last_recv_day
        WHERE b.balance > 0
    ), tip AS (
        SELECT r.usd AS tip_usd
        FROM rates r
        WHERE r.rate_date = (SELECT MAX(block_date) FROM blocks)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_addrs,
           CAST(SUM(h.balance) AS BIGINT) AS total_balance_sat,
           CAST(SUM(h.cents) AS BIGINT) AS realized_cap_cents,
           CAST(FLOOR(CAST(SUM(h.balance) AS DOUBLE) / 100000000.0
                      * MAX(t.tip_usd) * 100) AS BIGINT)
               AS market_cap_cents,
           CAST(FLOOR(CAST(FLOOR(CAST(SUM(h.balance) AS DOUBLE)
                                 / 100000000.0 * MAX(t.tip_usd) * 100)
                           AS DOUBLE)
                      / SUM(h.cents) * 1000000) AS BIGINT) AS mvrv_e6
    FROM held h, tip t
    """,
)
def ingest_realized_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REALIZED CAP and MVRV, address-level (round 12): every
    positive address balance priced at the rate of the day the
    address LAST RECEIVED coin, summed — the cost-basis valuation of
    the chain — against market cap (total balance at the tip-day
    rate); MVRV = market/realized is the canonical on-chain
    over/under-valuation cycle signal (the stock-level complement to
    ingest_monetary_velocity's flow rate and ingest_hodl_waves' age
    stock). The fixture's inputs carry no outpoint references, so the
    cost basis is the documented ADDRESS-LEVEL approximation (last
    receive day prices the whole balance) rather than per-UTXO lots —
    the form used in practice when lot tracking is unavailable;
    ingest_fifo_value_attribution holds the per-lot machinery.

    Exactness: balances and day keys are exact integers off the
    address-keyed flow rollup; each address's cents floor ONE double
    chain in oracle-literal order BEFORE the order-free sum; MVRV is
    one double division over the two exact cent sums.

    Scale: the ingest_address_balance exchange + a broadcast daily
    rate dim; the valuation is a narrow map over the address table —
    the at-rest partition key, maintained incrementally per block."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("block_date", F.explode("txs").alias("tx"))
    outs = (
        txr.select("block_date", F.explode("tx.outputs").alias("o"))
        .groupBy(
            F.col("o.address")[0].alias("address"), F.col("block_date")
        )
        .agg(F.sum("o.value").cast("bigint").alias("recv"))
    )
    ins = (
        txr.select(F.explode("tx.inputs").alias("i"))
        .groupBy(F.col("i.address")[0].alias("address"))
        .agg(F.sum("i.value").cast("bigint").alias("spent"))
    )
    addr = outs.groupBy("address").agg(
        F.sum("recv").cast("bigint").alias("recv"),
        F.max("block_date").alias("last_recv_day"),
    )
    bal = addr.join(ins, "address", "left").select(
        "address",
        "last_recv_day",
        (F.col("recv") - F.coalesce(F.col("spent"), F.lit(0)))
        .cast("bigint")
        .alias("balance"),
    )
    from graphsense_datafeed_spark.sources.scans import read_rates_csv

    rates = read_rates_csv(spark).select(
        F.col("date").cast("date").alias("rate_date"),
        F.col("usd").cast("double").alias("usd"),
    )
    held = (
        bal.filter(F.col("balance") > 0)
        .join(F.broadcast(rates), bal.last_recv_day == rates.rate_date)
        .select(
            "balance",
            F.floor(
                F.col("balance").cast("double")
                / 100000000.0
                * F.col("usd")
                * 100
            )
            .cast("bigint")
            .alias("cents"),
        )
    )
    tip_day = raw.agg(F.max("block_date").alias("tip_day"))
    tip = rates.join(
        F.broadcast(tip_day), rates.rate_date == F.col("tip_day")
    ).select(F.col("usd").alias("tip_usd"))
    agg = held.crossJoin(F.broadcast(tip)).agg(
        F.count("*").cast("bigint").alias("n_addrs"),
        F.sum("balance").cast("bigint").alias("total_balance_sat"),
        F.sum("cents").cast("bigint").alias("realized_cap_cents"),
        F.max("tip_usd").alias("tip_usd"),
    )
    market = F.floor(
        F.col("total_balance_sat").cast("double")
        / 100000000.0
        * F.col("tip_usd")
        * 100
    ).cast("bigint")
    return agg.select(
        "n_addrs",
        "total_balance_sat",
        "realized_cap_cents",
        market.alias("market_cap_cents"),
        F.floor(
            market.cast("double") / F.col("realized_cap_cents") * 1000000
        )
        .cast("bigint")
        .alias("mvrv_e6"),
    )


@query(
    "ingest_taint_haircut",
    f"""
    WITH txr AS (
        SELECT unnest(txs) AS tx FROM {_DUCK_BLOCKS}
    ), txio AS (
        SELECT (tx).tx_hash AS tx_hash, (tx).inputs AS inputs,
               (tx).outputs AS outputs
        FROM txr WHERE NOT (tx).coinbase
    ), ins AS (
        SELECT tx_hash, (i).address[1] AS addr,
               CAST((i).value AS BIGINT) AS v
        FROM (SELECT tx_hash, unnest(inputs) AS i FROM txio)
    ), tx_taint AS (
        SELECT tx_hash,
               CAST(SUM(v) AS BIGINT) AS total_in,
               CAST(SUM(CASE WHEN CAST(CAST('0x'
                        || substr(md5('taint:' || addr), 1, 4)
                        AS BIGINT) % 50 AS BIGINT) = 0
                    THEN v ELSE 0 END) AS BIGINT) AS tainted_in
        FROM ins GROUP BY tx_hash
    ), outs AS (
        SELECT tx_hash, (o).address[1] AS addr,
               CAST((o).value AS BIGINT) AS v
        FROM (SELECT tx_hash, unnest(outputs) AS o FROM txio)
    ), flowed AS (
        SELECT o.addr, o.v,
               CAST(FLOOR(CAST(o.v AS DOUBLE) * t.tainted_in
                          / t.total_in) AS BIGINT) AS tainted_v
        FROM outs o JOIN tx_taint t USING (tx_hash)
        WHERE t.tainted_in > 0 AND t.total_in > 0
    )
    SELECT addr,
           CAST(SUM(v) AS BIGINT) AS received,
           CAST(SUM(tainted_v) AS BIGINT) AS tainted_received,
           CAST((SUM(tainted_v) * 1000000) // SUM(v) AS BIGINT)
               AS taint_rate_e6
    FROM flowed
    GROUP BY addr
    HAVING SUM(tainted_v) > 0
    """,
)
def ingest_taint_haircut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAIRCUT TAINT PROPAGATION, one hop (round 12 cont.): value
    received from a deterministic md5 seed set (2% of addresses)
    propagates through each spending transaction PROPORTIONALLY
    (every output inherits tainted_in/total_in of its value — the
    'haircut' policy, vs ingest_fifo_value_attribution's queue
    policy: same question, the two canonical answers), reported per
    recipient with the taint rate — the GraphSense forensics read
    'how exposed is this address to the flagged cohort, one hop
    out'.

    Exactness: satoshi values exact; each output's tainted value
    quantizes ONCE as FLOOR(double(v)·tainted_in/total_in) — the
    int64 product overflows (v·tainted_in is ~1e25-scale, caught by
    the sf0.01 ANSI overflow on the first integer draft), so both
    engines run the SAME IEEE double chain; per-address sums and the
    rate are exact integer arithmetic on the quantized values.

    Scale: one tx pass (per-tx input rollup keyed on tx_hash, the
    ingest_fee_summary shape), one keyed join back to outputs, one
    address rollup — at chain scale this is the standard
    taint-sweep join program, and multi-hop is this op iterated
    with the output table fed back as the next seed valuation."""
    raw = read_blocks_json(spark)
    txio = (
        raw.select(F.explode("txs").alias("tx"))
        .filter(~F.col("tx.coinbase"))
        .select(
            F.col("tx.tx_hash").alias("tx_hash"),
            F.col("tx.inputs").alias("inputs"),
            F.col("tx.outputs").alias("outputs"),
        )
    )
    ins = txio.select(
        "tx_hash", F.explode("inputs").alias("i")
    ).select(
        "tx_hash",
        F.col("i.address")[0].alias("addr"),
        F.col("i.value").cast("bigint").alias("v"),
    )
    seeded = md5_int(F.lit("taint:"), F.col("addr"), digits=4) % 50 == 0
    tx_taint = ins.groupBy("tx_hash").agg(
        F.sum("v").cast("bigint").alias("total_in"),
        F.sum(F.when(seeded, F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("tainted_in"),
    )
    outs = txio.select(
        "tx_hash", F.explode("outputs").alias("o")
    ).select(
        "tx_hash",
        F.col("o.address")[0].alias("addr"),
        F.col("o.value").cast("bigint").alias("v"),
    )
    flowed = (
        outs.join(tx_taint, "tx_hash")
        .filter((F.col("tainted_in") > 0) & (F.col("total_in") > 0))
        .select(
            "addr",
            "v",
            F.floor(
                F.col("v").cast("double")
                * F.col("tainted_in")
                / F.col("total_in")
            )
            .cast("bigint")
            .alias("tainted_v"),
        )
    )
    return (
        flowed.groupBy("addr")
        .agg(
            F.sum("v").cast("bigint").alias("received"),
            F.sum("tainted_v").cast("bigint").alias("tainted_received"),
            F.expr(
                "(SUM(tainted_v) * 1000000) DIV SUM(v)"
            ).alias("taint_rate_e6"),
        )
        .filter(F.col("tainted_received") > 0)
    )


@query(
    "ingest_sopr",
    f"""
    WITH blocks AS (
        SELECT height,
               CAST(make_timestamp(timestamp * 1000000) AS DATE)
                   AS block_date,
               txs
        FROM {_DUCK_BLOCKS}
    ), txr AS (
        SELECT block_date, unnest(txs) AS tx FROM blocks
    ), recvs AS (
        SELECT DISTINCT (o).address[1] AS address, block_date AS recv_day
        FROM (SELECT block_date, unnest((tx).outputs) AS o FROM txr)
    ), spends AS (
        SELECT block_date AS spend_day, (i).address[1] AS address,
               CAST(SUM((i).value) AS BIGINT) AS sat
        FROM (SELECT block_date, unnest((tx).inputs) AS i FROM txr)
        GROUP BY 1, 2
    ), based AS (
        SELECT s.spend_day, s.address, s.sat,
               MAX(r.recv_day) AS acq_day
        FROM spends s
        JOIN recvs r
          ON r.address = s.address AND r.recv_day < s.spend_day
        GROUP BY 1, 2, 3
    ), rates AS (
        SELECT CAST(date AS DATE) AS rate_date, CAST(usd AS DOUBLE) AS usd
        FROM read_csv('{RATES_CSV}', header=true)
    ), priced AS (
        SELECT b.spend_day, b.sat,
               CAST(FLOOR(CAST(b.sat AS DOUBLE) / 100000000.0
                          * rs.usd * 100) AS BIGINT) AS cents_spend,
               CAST(FLOOR(CAST(b.sat AS DOUBLE) / 100000000.0
                          * ra.usd * 100) AS BIGINT) AS cents_acq
        FROM based b
        JOIN rates rs ON rs.rate_date = b.spend_day
        JOIN rates ra ON ra.rate_date = b.acq_day
    )
    SELECT spend_day,
           CAST(COUNT(*) AS BIGINT) AS n_spenders,
           CAST(SUM(sat) AS BIGINT) AS sat_spent,
           CAST(SUM(cents_spend) AS BIGINT) AS cents_at_spend,
           CAST(SUM(cents_acq) AS BIGINT) AS cents_at_acq,
           CASE WHEN SUM(cents_acq) > 0 THEN
               CAST(FLOOR(CAST(SUM(cents_spend) AS DOUBLE)
                          / SUM(cents_acq) * 1000000) AS BIGINT)
           END AS sopr_e6
    FROM priced GROUP BY spend_day ORDER BY spend_day
    """,
)
def ingest_sopr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOPR — Spent Output Profit Ratio per day (round 13): value of
    coins spent priced at the SPEND day over the same coins priced at
    their ACQUISITION day; >1 means the day's movers realized profit
    — the flow-side profit signal next to ingest_realized_cap's
    stock-side MVRV. The fixture carries no outpoints, so acquisition
    is the documented ADDRESS-LEVEL approximation (the spender's last
    receive day STRICTLY BEFORE the spend; spends with no on-feed
    prior receive are excluded — no cost basis), the
    coin_days_destroyed convention.

    Exactness: per-(day, address) sat rollups are exact ints; each
    leg's cents floor the ONE shared double chain (sat/1e8·usd·100)
    BEFORE the order-free sums; SOPR is one final division per day.

    Scale: one address-keyed backward-looking join (receive days per
    address are calendar-bounded), two broadcast daily-rate joins,
    one day rollup."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("block_date", F.explode("txs").alias("tx"))
    recvs = (
        txr.select(
            F.explode("tx.outputs").alias("o"), "block_date"
        )
        .select(
            F.col("o.address")[0].alias("address"),
            F.col("block_date").alias("recv_day"),
        )
        .distinct()
    )
    spends = (
        txr.select(F.explode("tx.inputs").alias("i"), "block_date")
        .select(
            F.col("block_date").alias("spend_day"),
            F.col("i.address")[0].alias("address"),
            F.col("i.value").alias("v"),
        )
        .groupBy("spend_day", "address")
        .agg(F.sum("v").cast("bigint").alias("sat"))
    )
    based = (
        spends.join(recvs, "address")
        .filter(F.col("recv_day") < F.col("spend_day"))
        .groupBy("spend_day", "address", "sat")
        .agg(F.max("recv_day").alias("acq_day"))
    )
    rates = read_rates_csv(spark).select(
        F.col("date").cast("date").alias("rate_date"),
        F.col("usd").cast("double").alias("usd"),
    )
    rs = rates.select(
        F.col("rate_date").alias("spend_day"), F.col("usd").alias("usd_s")
    )
    ra = rates.select(
        F.col("rate_date").alias("acq_day"), F.col("usd").alias("usd_a")
    )
    cents = lambda usd: F.floor(  # noqa: E731
        F.col("sat").cast("double") / 100000000.0 * F.col(usd) * 100
    ).cast("bigint")
    priced = (
        based.join(F.broadcast(rs), "spend_day")
        .join(F.broadcast(ra), "acq_day")
        .select(
            "spend_day",
            "sat",
            cents("usd_s").alias("cents_spend"),
            cents("usd_a").alias("cents_acq"),
        )
    )
    return (
        priced.groupBy("spend_day")
        .agg(
            F.count("*").cast("bigint").alias("n_spenders"),
            F.sum("sat").cast("bigint").alias("sat_spent"),
            F.sum("cents_spend").cast("bigint").alias("cents_at_spend"),
            F.sum("cents_acq").cast("bigint").alias("cents_at_acq"),
            F.when(
                F.sum("cents_acq") > 0,
                F.floor(
                    F.sum("cents_spend").cast("double")
                    / F.sum("cents_acq")
                    * 1000000
                ),
            )
            .cast("bigint")
            .alias("sopr_e6"),
        )
        .orderBy("spend_day")
    )


@query(
    "ingest_nvt_ratio",
    f"""
    WITH blocks AS (
        SELECT height,
               CAST(make_timestamp(timestamp * 1000000) AS DATE)
                   AS block_date,
               txs
        FROM {_DUCK_BLOCKS}
    ), txr AS (
        SELECT block_date, unnest(txs) AS tx FROM blocks
    ), minted AS (
        SELECT block_date,
               CAST(SUM((o).value) AS BIGINT) AS mint_sat
        FROM (SELECT block_date, unnest((tx).outputs) AS o FROM txr
              WHERE (tx).coinbase)
        GROUP BY 1
    ), moved AS (
        SELECT block_date,
               CAST(SUM((i).value) AS BIGINT) AS vol_sat
        FROM (SELECT block_date, unnest((tx).inputs) AS i FROM txr)
        GROUP BY 1
    ), days AS (
        SELECT COALESCE(m.block_date, v.block_date) AS d,
               COALESCE(m.mint_sat, 0) AS mint_sat,
               COALESCE(v.vol_sat, 0) AS vol_sat
        FROM minted m FULL OUTER JOIN moved v
          ON v.block_date = m.block_date
    ), cum AS (
        SELECT d, vol_sat,
               CAST(SUM(mint_sat) OVER (ORDER BY d) AS BIGINT)
                   AS supply_sat
        FROM days
    ), rates AS (
        SELECT CAST(date AS DATE) AS rate_date, CAST(usd AS DOUBLE) AS usd
        FROM read_csv('{RATES_CSV}', header=true)
    )
    SELECT c.d, c.supply_sat, c.vol_sat,
           CAST(FLOOR(CAST(c.supply_sat AS DOUBLE) / 100000000.0
                      * r.usd * 100) AS BIGINT) AS cap_cents,
           CASE WHEN c.vol_sat > 0 THEN
               CAST(FLOOR(CAST(FLOOR(CAST(c.supply_sat AS DOUBLE)
                                     / 100000000.0 * r.usd * 100)
                               AS DOUBLE)
                          / CAST(FLOOR(CAST(c.vol_sat AS DOUBLE)
                                       / 100000000.0 * r.usd * 100)
                                 AS DOUBLE)
                          * 10000) AS BIGINT)
           END AS nvt_e4
    FROM cum c JOIN rates r ON r.rate_date = c.d
    ORDER BY c.d
    """,
)
def ingest_nvt_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NVT ratio per day (round 13): network value (cumulative minted
    supply priced at the day's rate) over on-chain transfer volume
    (input value moved that day, priced the same) — the on-chain
    "P/E" cycle metric; completes the valuation suite
    (realized cap = cost basis stock, SOPR = realized flow, NVT =
    value per unit of settlement throughput).

    Exactness: minted/moved/supply are exact satoshi bigints (the
    supply cumsum runs over the calendar-bounded day tape); both cent
    legs floor the shared sat→cents chain; NVT divides the two
    FLOORED legs (spelled identically both engines).

    Scale: two per-day rollups + one day-keyed cumsum + a broadcast
    rate dim."""
    raw = normalize_blocks(read_blocks_json(spark))
    txr = raw.select("block_date", F.explode("txs").alias("tx"))
    minted = (
        txr.filter(F.col("tx.coinbase"))
        .select("block_date", F.explode("tx.outputs").alias("o"))
        .groupBy("block_date")
        .agg(F.sum("o.value").cast("bigint").alias("mint_sat"))
    )
    moved = (
        txr.select("block_date", F.explode("tx.inputs").alias("i"))
        .groupBy("block_date")
        .agg(F.sum("i.value").cast("bigint").alias("vol_sat"))
    )
    days = (
        minted.withColumnRenamed("block_date", "d")
        .join(
            moved.withColumnRenamed("block_date", "d"), "d", "full_outer"
        )
        .select(
            "d",
            F.coalesce(F.col("mint_sat"), F.lit(0)).alias("mint_sat"),
            F.coalesce(F.col("vol_sat"), F.lit(0)).alias("vol_sat"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = days.select(
        "d",
        "vol_sat",
        F.sum("mint_sat").over(w).cast("bigint").alias("supply_sat"),
    )
    rates = read_rates_csv(spark).select(
        F.col("date").cast("date").alias("d"),
        F.col("usd").cast("double").alias("usd"),
    )
    cap = F.floor(
        F.col("supply_sat").cast("double") / 100000000.0 * F.col("usd") * 100
    ).cast("bigint")
    volc = F.floor(
        F.col("vol_sat").cast("double") / 100000000.0 * F.col("usd") * 100
    ).cast("bigint")
    return (
        cum.join(F.broadcast(rates), "d")
        .select(
            "d",
            "supply_sat",
            "vol_sat",
            cap.alias("cap_cents"),
            F.when(
                F.col("vol_sat") > 0,
                F.floor(cap.cast("double") / volc.cast("double") * 10000),
            )
            .cast("bigint")
            .alias("nvt_e4"),
        )
        .orderBy("d")
    )
