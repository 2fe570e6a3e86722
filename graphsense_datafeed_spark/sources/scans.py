"""SURVEY §2.1 — scans, sources and sinks.

The reference's source surface is an HTTP block-JSON feed + a rates CSV
API + Cassandra as the terminal sink (SURVEY.md §1.1/§3.1). Here each
becomes a typed declarative scan so Catalyst can push filters/prune
columns into the reader.

Scale notes:
- Parquet scans: pushdown verified in tests/test_plans.py; at 100 TB
  the same plan prunes partitions + row groups before touching data.
- JSON/CSV: schema is always explicit — schema inference would be a
  full extra pass over 100 TB of input. Malformed rows surface as
  nulls (PERMISSIVE) rather than killing a 1000-executor job.
- sink_parquet: partitioned write; partition column choice
  (low-cardinality l_returnflag here; height-bucket / date in the
  ingest facade) bounds file counts — at scale add
  ``df.repartition(partition_cols)`` before write to get one file per
  partition per shuffle slot instead of files × tasks.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.session import ensure_runtime_confs
from graphsense_datafeed_spark.sources.tables import load, register_views

def staged_output(out: str, write_fn) -> str:
    """Write-once staging with crash/concurrency safety.

    An existing target directory is trusted only if it carries the
    completion marker — an interrupted earlier run can leave a partial
    tree that would silently yield wrong results. Fresh data is written
    into a uuid-suffixed stage, marked complete, then atomically
    renamed into place; if the rename loses a race (the target appeared
    concurrently) the freshly written stage is returned instead, so the
    caller never reads a possibly-partial directory.
    """
    import uuid

    import shutil

    marker = ".gds_complete"
    if os.path.exists(os.path.join(out, marker)):
        return out
    stage = f"{out}.stage-{uuid.uuid4().hex[:8]}"
    write_fn(stage)
    with open(os.path.join(stage, marker), "w") as f:
        f.write("ok")
    # a stale target without the marker blocks the rename forever and
    # would force a rewrite on every call — clear it first (it was
    # untrusted anyway)
    if os.path.isdir(out) and not os.path.exists(os.path.join(out, marker)):
        shutil.rmtree(out, ignore_errors=True)
    try:
        os.rename(stage, out)
        return out
    except OSError:
        return stage


def stage_schema_evo(spark: SparkSession, sf_dir: str) -> str:
    """FIXTURE-LAYER staging for scan_schema_evolution_merge: the two
    parquet generations (one pre-, one post-column-evolution) written
    once per (sf_dir, source fingerprint).  Round-16 (VERDICT r15 #8):
    staging lives HERE, not in the query function — the query calls
    this idempotent helper (a marker-file existence check when already
    staged) and then reads; scripts/bench_full.py pre-stages via
    STAGERS and reports staging seconds separately, so no query path
    writes testdata-keyed artifacts inside its timed window."""
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    ensure_runtime_confs(spark)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("total_cents"),
        "o_orderpriority",
    )
    gen1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "total_cents"
    )
    gen2 = orders.filter(F.col("o_orderkey") % 2 == 1)

    def _stage(stage: str) -> None:
        gen1.write.mode("overwrite").parquet(os.path.join(stage, "gen=1"))
        gen2.write.mode("overwrite").parquet(os.path.join(stage, "gen=2"))

    return staged_output(
        staged_source_dir(sf_dir, "gds_schema_evo", "orders"), _stage
    )


def stage_part_evo(spark: SparkSession, sf_dir: str) -> str:
    """FIXTURE-LAYER staging for scan_partition_evolution_union: the
    coarse (mth=) and fine (mth=/dy=) partition-spec generations,
    written once per (sf_dir, source fingerprint).  Same discipline as
    stage_schema_evo (VERDICT r15 #8)."""
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    ensure_runtime_confs(spark)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("mth"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dy"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    gen1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "mth", "cents"
    )
    gen2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "mth", "dy", "cents"
    )

    def _stage(stage: str) -> None:
        gen1.write.mode("overwrite").partitionBy("mth").parquet(
            os.path.join(stage, "gen1")
        )
        gen2.write.mode("overwrite").partitionBy("mth", "dy").parquet(
            os.path.join(stage, "gen2")
        )

    return staged_output(
        staged_source_dir(sf_dir, "gds_part_evo", "orders"), _stage
    )


# qid -> fixture stager, for harnesses that pre-stage outside the
# timed window (scripts/bench_full.py reports staging time separately).
STAGERS = {
    "scan_schema_evolution_merge": stage_schema_evo,
    "scan_partition_evolution_union": stage_part_evo,
}


FIXTURES_DIR = os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")
BLOCKS_JSONL = os.path.abspath(os.path.join(FIXTURES_DIR, "blocks.jsonl"))
RATES_CSV = os.path.abspath(os.path.join(FIXTURES_DIR, "rates.csv"))


def currency_feed(currency: str = "btc") -> tuple[str, str]:
    """(blocks_jsonl, rates_csv) for one currency's raw keyspace feed.

    The reference deploys one datafeed instance per currency, each
    writing its own Cassandra keyspace (SURVEY §1.1); here each
    currency has its own committed fixture feed (btc at the fixtures
    root for backward compatibility, alts in subdirs — see
    ingest/genfixtures.CURRENCIES)."""
    from graphsense_datafeed_spark.ingest.genfixtures import CURRENCIES

    spec = CURRENCIES[currency]
    base = os.path.join(FIXTURES_DIR, spec.subdir) if spec.subdir else FIXTURES_DIR
    return (
        os.path.abspath(os.path.join(base, "blocks.jsonl")),
        os.path.abspath(os.path.join(base, "rates.csv")),
    )

# Reconstructed raw block model (SURVEY.md §1.2) as a Spark schema.
TX_IO = StructType(
    [
        StructField("address", ArrayType(StringType())),
        StructField("value", LongType()),
    ]
)
TX = StructType(
    [
        StructField("tx_hash", StringType()),
        StructField("coinbase", BooleanType()),
        StructField("total_input", LongType()),
        StructField("total_output", LongType()),
        StructField("inputs", ArrayType(TX_IO)),
        StructField("outputs", ArrayType(TX_IO)),
    ]
)
BLOCK = StructType(
    [
        StructField("height", LongType()),
        StructField("block_hash", StringType()),
        StructField("timestamp", LongType()),
        StructField("no_transactions", LongType()),
        StructField("txs", ArrayType(TX)),
    ]
)

RATES = StructType(
    [
        StructField("date", DateType()),
        StructField("usd", DoubleType()),
        StructField("eur", DoubleType()),
    ]
)

# DuckDB column-spec mirror of BLOCK for the oracle side.
_DUCK_TX = (
    "STRUCT(tx_hash VARCHAR, coinbase BOOLEAN, total_input BIGINT, "
    "total_output BIGINT, inputs STRUCT(address VARCHAR[], value BIGINT)[], "
    "outputs STRUCT(address VARCHAR[], value BIGINT)[])[]"
)
_DUCK_BLOCK_COLS = (
    "{'height':'BIGINT','block_hash':'VARCHAR','timestamp':'BIGINT',"
    f"'no_transactions':'BIGINT','txs':\"{_DUCK_TX}\"}}"
)


def read_blocks_json(spark: SparkSession, path: str = BLOCKS_JSONL) -> DataFrame:
    """Typed JSON source for the reference's block feed shape."""
    ensure_runtime_confs(spark)
    return spark.read.schema(BLOCK).json(path)


def read_rates_csv(spark: SparkSession, path: str = RATES_CSV) -> DataFrame:
    ensure_runtime_confs(spark)
    return spark.read.csv(path, header=True, schema=RATES)


@query(
    "scan_parquet",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 30
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed parquet scan with projection+filter reaching the reader."""
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .filter(F.col("l_quantity") >= 30)
    )


@query(
    "scan_json",
    f"""
    SELECT height, block_hash, timestamp, no_transactions,
           CAST(len(txs) AS BIGINT) AS n_txs
    FROM read_json('{BLOCKS_JSONL}', format='newline_delimited',
                   columns={_DUCK_BLOCK_COLS})
    WHERE height < 100
    """,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON block-feed scan ([REF] fetch+parse stage, SURVEY §3.1-1)."""
    return (
        read_blocks_json(spark)
        .filter(F.col("height") < 100)
        .select(
            "height",
            "block_hash",
            "timestamp",
            "no_transactions",
            F.size("txs").cast("bigint").alias("n_txs"),
        )
    )


@query(
    "scan_csv",
    f"""
    SELECT date, usd, eur, ROUND(usd - eur, 2) AS spread
    FROM read_csv('{RATES_CSV}', header=true,
                  columns={{'date':'DATE','usd':'DOUBLE','eur':'DOUBLE'}})
    WHERE usd > 100.0
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV rates scan ([REF] exchange-rates ingest, SURVEY §3.1-3)."""
    return (
        read_rates_csv(spark)
        .filter(F.col("usd") > 100.0)
        .select(
            "date",
            "usd",
            "eur",
            F.round(F.col("usd") - F.col("eur"), 2).alias("spread"),
        )
    )


@query(
    "sink_parquet",
    """
    SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_linenumber <= 2
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write + re-read (write verified by identity).

    Partitioning by the low-cardinality ``l_returnflag`` (3 values)
    mirrors how the ingest facade partitions by height bucket / date:
    bounded directory fan-out, prunable on read.
    """
    out = os.path.join(
        tempfile.gettempdir(), "gds_sink_parquet", os.path.basename(sf_dir.rstrip("/"))
    )
    df = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") <= 2)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
    )
    df.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    # partitionBy lifts the partition column out of the files; restore
    # the declared column order + types for the contract comparison.
    return back.select(
        F.col("l_returnflag").cast("string"),
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
    )


@query(
    "scan_orc",
    """
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier WHERE s_acctbal > 0.0
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink roundtrip (the other first-class columnar lake
    format; same pushdown/pruning machinery as parquet). DuckDB can't
    read ORC, so the oracle reads the parquet original — the roundtrip
    is an identity, which is exactly what's being checked."""
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    out = staged_source_dir(sf_dir, "gds_orc", "supplier")
    src = load(spark, sf_dir, "supplier")
    out = staged_output(out, lambda d: src.write.mode("overwrite").orc(d))
    return (
        spark.read.schema(src.schema)
        .orc(out)
        .filter(F.col("s_acctbal") > 0.0)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )


@query(
    "scan_schema_evolution",
    """
    SELECT r_regionkey, r_name, r_zone FROM (
        SELECT r_regionkey, r_name, NULL AS r_zone FROM region
        UNION ALL
        SELECT r_regionkey + 100 AS r_regionkey, r_name,
               CAST(r_regionkey AS BIGINT) % 3 AS r_zone
        FROM region
    )
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two file generations (v2 adds a
    column) merged with mergeSchema — old files surface NULL for the
    new column instead of failing. At 100 TB, re-writing history for
    every added column is not an option; this is the survival path.
    Oracle reconstructs both generations relationally."""
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    out = staged_source_dir(sf_dir, "gds_evolve", "region")
    region = load(spark, sf_dir, "region")

    def write_gens(stage: str) -> None:
        region.write.mode("overwrite").parquet(f"{stage}/gen=1")
        region.select(
            (F.col("r_regionkey") + 100).alias("r_regionkey"),
            "r_name",
            (F.col("r_regionkey").cast("bigint") % 3).alias("r_zone"),
        ).write.mode("overwrite").parquet(f"{stage}/gen=2")

    out = staged_output(out, write_gens)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen=1", f"{out}/gen=2"
    )
    return merged.select("r_regionkey", "r_name", "r_zone")


@query(
    "table_register",
    """
    SELECT n_name, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def table_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register temp views, then answer through the SQL entry point."""
    register_views(spark, sf_dir, prefix="gds_")
    return spark.sql(
        """
        SELECT n_name, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
        FROM gds_customer JOIN gds_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@query(
    "sink_partitioned_overwrite",
    """
    SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY CAST(ts AS DATE)
    """,
)
def sink_partitioned_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent re-ingest by partition — the reference's reorg story
    (re-ingest from the fork height) at file-sink level, via dynamic
    partition overwrite.

    The sequence deliberately plants damage and repairs it: (1) full
    date-partitioned write, (2) one day's partition corrupted (half its
    rows dropped — a torn ingest), (3) that day re-ingested with
    ``partitionOverwriteMode=dynamic``, which rewrites ONLY partitions
    present in the incoming frame. The oracle is the clean batch
    aggregate: it matches iff the repair restored the damaged day
    without touching the others (static overwrite mode would have
    deleted them — the classic production foot-gun this mode exists
    for).

    Scale: a reorg/backfill rewrites O(affected days), never the
    table; the date partition column is the same low-cardinality
    derivative of the ingest key the facade uses for height buckets."""
    out = os.path.join(
        tempfile.gettempdir(), "gds_sink_dynover", os.path.basename(sf_dir.rstrip("/"))
    )
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("event_date"),
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)

    target_day = ev.agg(F.min("event_date")).collect()[0][0]
    day = ev.filter(F.col("event_date") == F.lit(target_day))
    # torn ingest: half the day's rows lost
    with_conf = spark.conf
    prev = with_conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    with_conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        day.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").partitionBy(
            "event_date"
        ).parquet(out)
        # repair: re-ingest the full day; dynamic mode rewrites only it
        day.write.mode("overwrite").partitionBy("event_date").parquet(out)
    finally:
        with_conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(out)
    return back.groupBy(F.col("event_date").cast("date").alias("event_date")).agg(
        F.count("*").alias("n_events"), F.sum("cents").alias("total_cents")
    )


@query(
    "scan_observe_metrics",
    """
    SELECT event_id, user_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type <> 'error'
    """,
)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest QA counters via the Observation API: row count, distinct
    hint, value sum, and bad-row count ride along on the SAME pass as
    the scan (accumulator-backed — zero extra jobs), where a naive QA
    step would re-scan the table per metric. The observed frame is a
    pure pass-through, so the oracle checks the rows; the metric
    values themselves are asserted in tests/test_operators.py.

    Scale: this is how a 100 TB ingest validates itself — metrics
    accumulate on executors during the one scan the pipeline was going
    to do anyway, and the reorg/alert decision reads four scalars."""
    from pyspark.sql import Observation

    ev = load(spark, sf_dir, "events")
    obs = Observation("ingest_qa")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_cents"),
        F.count_if(F.col("event_type") == "error").alias("n_error_rows"),
        F.max("event_id").alias("max_event_id"),
    )
    return observed.filter(F.col("event_type") != "error").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )


BIN_DIR = os.path.abspath(os.path.join(FIXTURES_DIR, "bin"))


@query(
    "scan_binary_files",
    f"""
    SELECT regexp_extract(filename, '[^/]+$') AS file_name,
           CAST(size AS BIGINT) AS n_bytes,
           lower(hex(content)) AS content_hex
    FROM read_blob('{BIN_DIR}/*.bin')
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file source — the ingestion entry point for multimodal
    payloads (images/audio as opaque bytes + typed metadata, SURVEY
    §2.10): Spark's `binaryFile` format yields (path, length, content)
    without ever decoding, so a 100 TB media lake scans with the same
    partitioned-reader machinery as parquet and decode happens later,
    AFTER metadata filters prune (see multimodal_decode). Oracle:
    DuckDB read_blob over the identical fixture files; byte equality
    is proven via hex encoding (DuckDB 1.0 has no sha256(BLOB)) —
    raw blob cells arrive as bytearray in pandas and crash the
    driver's row sort (r2 lesson)."""
    df = spark.read.format("binaryFile").load(f"{BIN_DIR}/*.bin")
    return df.select(
        F.regexp_extract(F.col("path"), "[^/]+$", 0).alias("file_name"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.lower(F.hex(F.col("content"))).alias("content_hex"),
    )


@query(
    "scan_text",
    f"""
    SELECT line, CAST(length(line) AS BIGINT) AS n_chars
    FROM read_csv('{BLOCKS_JSONL}', columns={{'line':'VARCHAR'}},
                  delim='\x01', quote='', escape='', header=false)
    """,
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source — the rawest ingest shape (log files,
    WET/WARC-extracted text, one record per line). Spark's text source
    parallelizes by file split exactly like parquet; parsing is then an
    ordinary projection the optimizer can see through. Oracle: DuckDB
    single-column CSV with an unused 1-byte delimiter."""
    return spark.read.text(BLOCKS_JSONL).select(
        F.col("value").alias("line"),
        F.length("value").cast("bigint").alias("n_chars"),
    )


@query(
    "source_python_datasource",
    f"""
    SELECT height, block_hash, timestamp, no_transactions
    FROM read_json('{BLOCKS_JSONL}', format='newline_delimited',
                   columns={{'height':'BIGINT','block_hash':'VARCHAR',
                             'timestamp':'BIGINT','no_transactions':'BIGINT'}})
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's HTTP block-feed fetch as a FIRST-CLASS Spark
    source: a custom Python DataSource (Spark 4 API) whose partitions
    are page slices of the feed — each executor task fetches and
    parses its own page, which is exactly how the reference's
    paginated REST polling parallelizes at scale (N fetch tasks, no
    driver-side download). Offline, pages come from the fixture file;
    the HTTP seam is the ``path`` option.

    Classes are defined in function scope ON PURPOSE: cloudpickle
    ships them by value to the Python workers, so a bare driver
    session needs no package on the worker path (round-1 pickling
    lesson). Oracle: DuckDB reads the same feed directly."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class BlockFeedReader(DataSourceReader):
        def __init__(self, options):
            self.path = options["path"]
            self.n_pages = int(options.get("numPages", "4"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_pages)]

        def read(self, partition):
            import json as _json

            page = partition.value
            with open(self.path) as f:
                for k, line in enumerate(f):
                    if k % self.n_pages != page:
                        continue
                    b = _json.loads(line)
                    yield (
                        b["height"],
                        b["block_hash"],
                        b["timestamp"],
                        b["no_transactions"],
                    )

    class BlockFeedDataSource(DataSource):
        @classmethod
        def name(cls):
            return "gds_blockfeed"

        def schema(self):
            return (
                "height bigint, block_hash string, "
                "timestamp bigint, no_transactions bigint"
            )

        def reader(self, schema):
            return BlockFeedReader(self.options)

    spark.dataSource.register(BlockFeedDataSource)
    return (
        spark.read.format("gds_blockfeed")
        .option("path", BLOCKS_JSONL)
        .option("numPages", "4")
        .load()
    )


def _zvalue_sql(x: str, y: str) -> str:
    """DuckDB SQL for the 16-bit interleaved z-order value (generated
    once at import; mirrors zvalue_col bit-for-bit)."""
    terms = []
    for i in range(16):
        terms.append(f"((({x} & 65535) >> {i} & 1) << {2 * i})")
        terms.append(f"((({y} & 65535) >> {i} & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def zvalue_col(x, y):
    """32-bit Morton/z-order interleave of two 16-bit key projections —
    pure JVM bit math (shiftleft/shiftright + bitwise and/or), codegen
    friendly, no UDF."""
    xm = x.bitwiseAND(F.lit(65535))
    ym = y.bitwiseAND(F.lit(65535))
    z = F.lit(0).cast("bigint")
    for i in range(16):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@query(
    "layout_zorder",
    f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CAST({_zvalue_sql('l_partkey', 'l_suppkey')} AS BIGINT) AS zval
    FROM lineitem
    """,
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering value over (l_partkey, l_suppkey) —
    the data-layout move for multi-dimensional pruning: range-partition
    + sort files by the interleaved z-value and every file's min/max
    span is narrow in BOTH keys, so point/range predicates on EITHER
    column prune row groups (a single-column sort only prunes its own
    column). tests/test_bucketing.py measures the effect: z-sorted
    files cover a fraction of each key range vs unsorted files
    covering all of it. The bit interleave is pure codegen'd JVM bit
    math — exact-oracle checkable."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        zvalue_col(F.col("l_partkey"), F.col("l_suppkey")).alias("zval"),
    )


@query(
    "scan_partition_pruning",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(EXTRACT(year FROM o_orderdate) * 100
                + EXTRACT(month FROM o_orderdate) AS BIGINT) AS order_month
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) * 100
          + EXTRACT(month FROM o_orderdate) = 199703
    """,
)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition PRUNING — the other half of scan-time
    elimination (test_plans covers data-file pushdown; this covers
    directory-level pruning, the one that matters most at 100 TB: a
    month predicate on a month-partitioned table must list ONE
    directory, not stat a million files).

    Stages orders partitioned by derived order_month
    (``partitionBy`` on write), reads back with an equality predicate
    on the partition column, and returns the surviving rows; the
    oracle recomputes the same slice from the unpartitioned original.
    tests/test_plans.py asserts the plan scans a pruned file set. The
    partition column round-trips through the directory name (hive
    path encoding) as INT — cast to BIGINT for the contract."""
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    out = staged_source_dir(sf_dir, "gds_partmonth", "orders")
    src = load(spark, sf_dir, "orders").withColumn(
        "order_month",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("bigint"),
    )
    out = staged_output(
        out,
        lambda d: src.write.mode("overwrite")
        .partitionBy("order_month")
        .parquet(d),
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("order_month") == 199703)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("order_month").cast("bigint").alias("order_month"),
        )
    )


@query(
    "sink_manifest_commit",
    """
    SELECT event_id, user_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    """,
)
def sink_manifest_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based atomic table commit (round 5) — the snapshot
    pattern table formats (Iceberg/Delta) are built on, reduced to its
    load-bearing core: data files are immutable and APPEND-ONLY, a
    manifest lists exactly the files of one snapshot, and commit =
    atomically swapping a tiny CURRENT pointer. Readers resolve
    CURRENT → manifest → explicit file list and NEVER list
    directories, which is what makes the scheme work on object stores
    (no atomic rename of big dirs needed — only the pointer write),
    keeps metadata O(snapshot), and makes torn writes invisible: the
    scenario plants un-referenced debris files inside the data tree
    and commits two snapshots (v1 = half the rows, v2 = all); the read
    path returns exactly v2's manifest content.

    The oracle is the clean full projection: a reader that
    double-counts via directory listing (debris), serves the stale v1,
    or loses a v2 file hash-mismatches. Staged under the
    fingerprint-keyed dir; the build is idempotent (overwrite +
    pointer-last ordering — a crash before the pointer swap leaves the
    previous snapshot intact, the re-run rebuilds)."""
    import json

    base = _manifest_table_build(spark, sf_dir, "gds_manifest")
    current = os.path.join(base, "CURRENT")
    with open(current) as fh:
        mname = fh.read().strip()
    with open(os.path.join(base, mname)) as fh:
        manifest = json.load(fh)
    return spark.read.parquet(*manifest["files"])


def _manifest_table_build(spark: SparkSession, sf_dir: str, label: str) -> str:
    """Build (idempotently) the two-snapshot manifest table under its
    own fingerprint-keyed staging ``label`` and return its base dir.
    Parameterized so sink_manifest_vacuum mutates a PRIVATE staging —
    vacuuming the commit operator's shared staging would destroy the
    debris/expired-manifest evidence other sessions' checks rely on."""
    import glob
    import json
    import uuid

    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    base = staged_source_dir(sf_dir, label, "events")
    data = os.path.join(base, "data")
    current = os.path.join(base, "CURRENT")
    if not os.path.exists(current):
        ev = load(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        b1 = os.path.join(data, "batch1")
        b2 = os.path.join(data, "batch2")
        ev.filter(F.col("event_id") % 2 == 0).repartition(4).write.mode(
            "overwrite"
        ).parquet(b1)
        ev.filter(F.col("event_id") % 2 == 1).repartition(4).write.mode(
            "overwrite"
        ).parquet(b2)
        # torn-write debris: files a failed writer left in the tree —
        # a directory-listing reader would double-count them
        ev.limit(100).write.mode("overwrite").parquet(
            os.path.join(data, "debris")
        )
        files_v1 = sorted(glob.glob(os.path.join(b1, "*.parquet")))
        files_v2 = files_v1 + sorted(glob.glob(os.path.join(b2, "*.parquet")))
        for ver, files in ((1, files_v1), (2, files_v2)):
            mpath = os.path.join(base, f"manifest-{ver}.json")
            tmp = mpath + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"snapshot": ver, "files": files}, fh)
            os.rename(tmp, mpath)
        # commit LAST: the pointer swap is the only mutation readers see
        tmp = current + ".stage." + uuid.uuid4().hex[:8]
        with open(tmp, "w") as fh:
            fh.write("manifest-2.json")
        os.rename(tmp, current)
    return base


@query(
    "source_python_stream",
    f"""
    SELECT height, block_hash, timestamp, no_transactions
    FROM read_json('{BLOCKS_JSONL}', format='newline_delimited',
                   columns={{'height':'BIGINT','block_hash':'VARCHAR',
                             'timestamp':'BIGINT','no_transactions':'BIGINT'}})
    """,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The block-feed daemon as a FIRST-CLASS STREAMING source (round
    5): a Spark 4 Python streaming DataSource whose offset is the feed
    cursor — each micro-batch reads the next page, the engine
    checkpoints the offset, and `readBetweenOffsets` replays a
    committed range on recovery (exactly-once across restarts, the
    property the reference daemon hand-rolls with its own state file).
    The batch sibling (`source_python_datasource`) parallelizes one
    snapshot fetch; this one TAILS: page size 16 over the 120-block
    fixture feed drains in 8 micro-batches (asserted in
    tests/test_streaming.py), and the appended union must equal the
    whole feed — any dropped or double-read page hash-mismatches the
    oracle.

    SimpleDataSourceStreamReader is the deliberate choice: the feed
    tip is a low-rate metadata read (the reference polls one HTTP
    endpoint), so driver-side paging with executor-side downstream
    processing is the right split — the per-block heavy lifting
    (tx explode etc.) happens in the partitioned plan below the
    source, not in the reader. Classes are function-scoped so
    cloudpickle ships them by value (round-1 pickling lesson)."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class FeedStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.path = options["path"]
            self.page = int(options.get("pageSize", "16"))

        def initialOffset(self):
            return {"line": 0}

        def read(self, start):
            import json as _json

            s = start["line"]
            rows = []
            with open(self.path) as f:
                for k, line in enumerate(f):
                    if k < s:
                        continue
                    if k >= s + self.page:
                        break  # page full — never scan the tail
                    b = _json.loads(line)
                    rows.append(
                        (
                            b["height"],
                            b["block_hash"],
                            b["timestamp"],
                            b["no_transactions"],
                        )
                    )
            return iter(rows), {"line": s + len(rows)}

        def readBetweenOffsets(self, start, end):
            import json as _json

            s, e = start["line"], end["line"]
            out = []
            with open(self.path) as f:
                for k, line in enumerate(f):
                    if k >= e:
                        break
                    if s <= k:
                        b = _json.loads(line)
                        out.append(
                            (
                                b["height"],
                                b["block_hash"],
                                b["timestamp"],
                                b["no_transactions"],
                            )
                        )
            return iter(out)

    class FeedStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "gds_blockfeed_stream"

        def schema(self):
            return (
                "height bigint, block_hash string, "
                "timestamp bigint, no_transactions bigint"
            )

        def simpleStreamReader(self, schema):
            return FeedStreamReader(self.options)

    import uuid as _uuid

    from graphsense_datafeed_spark.streaming.windows import drain_stream

    spark.dataSource.register(FeedStreamSource)
    s = (
        spark.readStream.format("gds_blockfeed_stream")
        .option("path", BLOCKS_JSONL)
        .option("pageSize", "16")
        .load()
    )
    name = "s" + _uuid.uuid4().hex[:12]
    # availableNow snapshots only the FIRST page for a simple stream
    # reader (measured), so the drain is processAllAvailable: each
    # trigger advances the cursor until read() returns no new rows.
    # Then materialize the (tiny, feed-sized) result and release the
    # uuid-named sink table (drain_stream removes the checkpoint dir)
    # — repeated invocations in a long session must not accumulate
    # either, failed ones included (round-5 code-review find)
    try:
        drain_stream(
            spark,
            s.writeStream.format("memory").queryName(name).outputMode("append"),
            until_idle=True,
        )
        rows = spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        rows,
        "height bigint, block_hash string, timestamp bigint, "
        "no_transactions bigint",
    )


@query(
    "sink_manifest_vacuum",
    """
    SELECT event_id, user_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    """,
)
def sink_manifest_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry + orphan-file vacuum (round 5) — the GC half of
    the manifest-commit pattern, the maintenance every snapshot table
    needs or storage grows without bound: expire manifests older than
    the retention point (here: everything but the current snapshot),
    compute the still-REFERENCED file set as the union of the live
    manifests, and delete every data file outside it (expired-only
    files and torn-write debris alike). The ordering is the
    load-bearing part, exactly as in Iceberg's expire_snapshots +
    remove_orphan_files: manifests are retired FIRST, so a reader
    resolving CURRENT never holds a manifest whose files are being
    deleted; files shared with live snapshots are kept (v1's files
    live inside v2's manifest here, so expiring v1 deletes no data).

    The oracle is the same clean full projection as
    sink_manifest_commit: a vacuum that deletes a still-referenced
    file (or a reader that re-lists directories) hash-mismatches.
    tests assert the debris is physically gone and the live snapshot
    is byte-complete."""
    import glob
    import json

    # build (or reuse) a PRIVATE committed two-snapshot table, then
    # vacuum it — never the sibling operator's shared staging
    base = _manifest_table_build(spark, sf_dir, "gds_manifest_vac")
    with open(os.path.join(base, "CURRENT")) as fh:
        current = fh.read().strip()
    live = {current}
    # 1) expire: retire every non-live manifest file first
    for m in glob.glob(os.path.join(base, "manifest-*.json")):
        if os.path.basename(m) not in live:
            os.remove(m)
    # 2) vacuum: delete data files no live manifest references
    referenced = set()
    for name in live:
        with open(os.path.join(base, name)) as fh:
            referenced.update(json.load(fh)["files"])
    for f in glob.glob(os.path.join(base, "data", "*", "*.parquet")):
        if f not in referenced:
            os.remove(f)
    with open(os.path.join(base, current)) as fh:
        manifest = json.load(fh)
    return spark.read.parquet(*manifest["files"])


@query(
    "scan_dynamic_partition_pruning",
    """
    WITH dim AS (
        SELECT DISTINCT CAST(ts AS DATE) AS event_date
        FROM events
        WHERE day(CAST(ts AS DATE)) <= 2
    )
    SELECT e.event_date, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM (SELECT CAST(ts AS DATE) AS event_date, value FROM events) e
    JOIN dim USING (event_date)
    GROUP BY e.event_date
    """,
)
def scan_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning (round 5) — the optimizer feature
    static pruning (scan_partition_pruning) can't cover: the fact
    table is date-partitioned at rest, the filter lives on the DIM
    side (first two dates), and Catalyst injects the dim's join keys
    as a runtime partition filter on the fact scan — only the matching
    date directories are ever read, decided AT RUN TIME from the
    broadcast build side. At 100 TB this is the star-schema workhorse:
    a "last week" predicate on a calendar dim prunes a years-deep fact
    table without any literal date reaching the fact query.
    tests/test_plans.py pins `dynamicpruning` in the fact scan's
    partition filters; the oracle is the same join over the raw table
    — pruning must be semantics-free."""
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    base = staged_source_dir(sf_dir, "gds_dpp", "events")

    def _write(stage: str) -> None:
        (
            load(spark, sf_dir, "events")
            .select(
                F.col("ts").cast("date").alias("event_date"),
                F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            )
            .repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(stage)
        )

    # staged_output: marker-trusted, uuid-staged, race-safe (the same
    # helper every staged scan uses — a fixed stage path would let two
    # concurrent builders clobber each other mid-write)
    part_dir = staged_output(os.path.join(base, "by_date"), _write)
    fact = spark.read.parquet(part_dir)
    # a SELECTIVE predicate on the dim side (day-of-month <= 2) — the
    # DPP heuristic requires one (a bare LIMIT does not qualify;
    # verified: no dynamicpruning filter was injected with limit(2))
    dim = (
        load(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("event_date"))
        .filter(F.dayofmonth("event_date") <= 2)
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_date")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


@query(
    "scan_manifest_incremental_read",
    """
    SELECT event_id, user_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_id % 2 = 1
    """,
)
def scan_manifest_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot consumption (round 5 batch 18): read ONLY
    the files snapshot v2 added over snapshot v1 — the manifest set
    difference — which is how a downstream consumer tails a
    manifest-committed table without reprocessing history (Iceberg's
    incremental scan / Delta's CDF, reduced to the same load-bearing
    core as sink_manifest_commit: manifests are explicit file lists,
    so "what's new" is list subtraction, no directory listing, no
    modification-time heuristics — mtimes lie on object stores).

    The oracle is the odd-event_id half of the table (v2's append
    batch by construction), so a consumer that re-reads v1 files,
    misses a v2 file, or picks up torn-write debris hash-mismatches.
    Builds on the identical two-snapshot staging (idempotent,
    fingerprint-keyed).

    Scale: incremental work is sized by the DELTA, not the table —
    the property that makes daily downstream jobs O(day) on a
    100 TB table; the manifest diff itself is metadata-sized."""
    import json

    base = _manifest_table_build(spark, sf_dir, "gds_manifest")
    with open(os.path.join(base, "manifest-1.json")) as fh:
        v1 = set(json.load(fh)["files"])
    with open(os.path.join(base, "manifest-2.json")) as fh:
        v2 = json.load(fh)["files"]
    new_files = [f for f in v2 if f not in v1]
    return spark.read.parquet(*new_files)


@query(
    "scan_csv_quarantine",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV malformed-input robustness (round 6) — scan_json_corrupt's
    twin for the delimited-feed path: a poisoned CSV copy of the
    nation dim (wrong-arity line + non-numeric key line planted) is
    read PERMISSIVE with a _corrupt_record column; the query must
    recover EXACTLY the clean rows (the oracle reads the pristine
    table) and quarantine the rest instead of failing the job.

    The poisoned file is staged under the fixture fingerprint
    (staged_source_dir discipline) from the loaded dim itself —
    bounded collect: nation is a 25-row dimension.  At 100 TB the
    same reader options apply per-file on a partitioned landing zone;
    quarantined lines go to a reject sink for replay (the
    sink_manifest pattern), never to stderr."""
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    base = staged_source_dir(sf_dir, "gds_csv_quarantine", "nation")
    csv_path = os.path.join(base, "nation_poisoned.csv")
    if not os.path.exists(csv_path):
        os.makedirs(base, exist_ok=True)
        rows = (
            load(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .collect()
        )
        tmp = csv_path + ".tmp"
        with open(tmp, "w") as out:
            out.write("only,two\n")  # wrong arity
            for r in rows:
                out.write(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n")
            out.write("abc,BADLAND,xyz\n")  # non-numeric keys
        os.rename(tmp, csv_path)
    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(csv_path)
    )
    return parsed.filter(F.col("_corrupt_record").isNull()).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "sink_jsonl_export",
    """
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE n_chars >= 100
    """,
)
def sink_jsonl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL export sink + re-read (round 6): the interchange format
    every downstream tokenizer/training job actually consumes.  The
    filtered document metadata is written as newline-delimited JSON
    (one shard per task — the layout the 100 TB export would keep),
    then read back through the schema'd JSON reader; the oracle reads
    the ORIGINAL parquet, so the round trip must lose nothing — key
    order, type mapping (bigint vs double ambiguity in JSON), and
    null handling are all on the hook.

    Staged under the source fingerprint; re-runs reuse the export.
    Text itself is deliberately NOT exported here (the metadata
    manifest shape); text-bearing exports ride the same writer with
    per-column escaping handled by the JSON codec."""
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    base = staged_source_dir(sf_dir, "gds_jsonl", "documents")
    ensure_runtime_confs(spark)

    def write_export(stage: str) -> None:
        (
            load(spark, sf_dir, "documents")
            .filter(F.col("n_chars") >= 100)
            .select("doc_id", "lang", "source", "n_chars")
            .write.mode("overwrite")
            .json(stage)
        )

    out_dir = staged_output(os.path.join(base, "docs_jsonl"), write_export)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    return spark.read.schema(schema).json(out_dir)


@query(
    "scan_footer_stats",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS num_rows,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events
    """,
)
def scan_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER statistics as a queryable result (round 6) — the
    zone map layout_zone_overlap reasons about, read the way a real
    lakehouse reads it: row counts and min/max assembled ONLY from
    row-group metadata (pyarrow ParquetFile.metadata), ZERO data pages
    touched.  This is the primitive behind data skipping, compaction
    planning, and the 100 TB form of the zone-overlap audit (footers
    instead of scans).

    The oracle scans the DATA (COUNT/MIN/MAX over the table), so the
    check is the data-skipping soundness theorem itself: footer stats
    must equal truth for an int64 column (parquet int stats are exact,
    no truncation) regardless of how many row groups the fixture
    generator writes — per-row-group stats are summed/min'd/max'd
    across groups, so a regenerated multi-row-group file still
    matches.

    Round-7: the footer fold is DISTRIBUTED (VERDICT r6 item 3) — the
    driver only LISTS paths; each task opens its own files and reads
    footer metadata (KBs each), so 10⁵ footers at 100 TB are a
    parallel metadata job, not a driver loop.  A file written without
    column statistics fails loudly with the file and column named
    (ADVICE r6) instead of an AttributeError."""
    from graphsense_datafeed_spark.sources.tables import path_for

    per_file = parquet_footer_stats(
        spark, [path_for(sf_dir, "events")], "event_id"
    )
    return per_file.agg(
        F.sum("num_rows").cast("bigint").alias("num_rows"),
        F.min("stat_min").cast("bigint").alias("min_event_id"),
        F.max("stat_max").cast("bigint").alias("max_event_id"),
    )


def parquet_footer_stats(
    spark: SparkSession, paths: list, column: str
) -> DataFrame:
    """Distributed per-file parquet footer fold: expand ``paths``
    (files or directories) into the file list driver-side — a LISTING,
    no footer is opened on the driver — then mapInPandas opens each
    file's METADATA on the executors and emits one
    (path, num_rows, stat_min, stat_max) row per file from row-group
    statistics only (zero data pages).  Callers aggregate the
    per-file rows however their readout needs (scan_footer_stats
    sums/mins/maxes; a compaction planner would keep them per-file).

    Raises a descriptive error from the executor when a row group
    lacks min/max statistics for ``column`` — data-skipping soundness
    cannot be certified from absent stats, and the r6 form's bare
    AttributeError named neither file nor column."""
    import glob as _glob

    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            files.extend(
                sorted(_glob.glob(os.path.join(p, "**", "*.parquet"),
                                  recursive=True))
            )
        else:
            files.append(p)
    if not files:
        raise ValueError(f"parquet_footer_stats: no parquet files in {paths}")
    # hash-spread the file list across tasks by path (not a bare
    # repartition(n): with one file that collapses to an Exchange
    # SinglePartition and reads as a serialization point in the plan)
    flist = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartition(min(len(files), 64), "path")

    def fold(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                idx = md.schema.names.index(column)
                total, mn, mx = 0, None, None
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    total += g.num_rows
                    if g.num_rows == 0:
                        continue
                    st = g.column(idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError(
                            "parquet_footer_stats: row group "
                            f"{rg} of {path} has no min/max statistics "
                            f"for column {column!r}; footer-only "
                            "readout cannot be certified (rewrite the "
                            "file with statistics enabled or scan the "
                            "data)"
                        )
                    mn = int(st.min) if mn is None else min(mn, int(st.min))
                    mx = int(st.max) if mx is None else max(mx, int(st.max))
                rows.append((path, total, mn, mx))
            yield pd.DataFrame(
                rows, columns=["path", "num_rows", "stat_min", "stat_max"]
            )

    return flist.mapInPandas(
        fold,
        "path string, num_rows long, stat_min long, stat_max long",
    )


@query(
    "scan_manifest_time_travel",
    """
    SELECT event_id, user_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_id % 2 = 0
    """,
)
def scan_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the manifest table (round 6): read snapshot v1
    AS OF its manifest even though CURRENT already points at v2 — the
    fourth leg of the manifest family (commit / incremental read /
    vacuum / time travel) and the reason table formats keep expired
    manifests around for a retention window.  Readers resolve an
    EXPLICIT manifest instead of CURRENT; nothing else changes, which
    is the whole point — history is just another snapshot pointer.

    The oracle reconstructs v1 relationally (the even-event_id half
    the builder committed first), so a reader that accidentally
    resolves CURRENT (returns v2 = everything) or leaks torn-write
    debris hash-mismatches.

    Scale: identical to sink_manifest_commit's read path — O(snapshot)
    metadata, no directory listing; retention GC (sink_manifest_vacuum)
    bounds how far back travel reaches, exactly like Iceberg's
    expire_snapshots."""
    import json

    base = _manifest_table_build(spark, sf_dir, "gds_manifest")
    with open(os.path.join(base, "manifest-1.json")) as fh:
        manifest = json.load(fh)
    return spark.read.parquet(*manifest["files"])


@query(
    "scan_schema_evolution_merge",
    """
    WITH unioned AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
               CAST(NULL AS VARCHAR) AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
               o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COALESCE(o_orderpriority, '(pre-evolution)') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(total_cents) AS BIGINT) AS sum_cents
    FROM unioned GROUP BY 1 ORDER BY 1
    """,
)
def scan_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read across parquet generations (round 9):
    generation 1 was written BEFORE the `o_orderpriority` column
    existed, generation 2 after — the single most common lakehouse
    migration (a column added mid-stream). The scan must unify the
    two footers (``mergeSchema=true``), null-fill the missing column
    on old files, and keep aggregates correct across the boundary —
    exactly what a 100 TB table accumulated over years of schema
    drift requires on every read.

    The query MATERIALIZES both generations (even/odd orderkey
    split → distinct column sets) under one directory, then re-reads
    with schema merge and rolls up per priority with the
    pre-evolution rows surfaced as their own class — the audit view
    that shows how much of the table predates the column.

    Scale: schema merge costs one footer read per FILE (distributed
    in Spark's mergeSchema job, bounded by file count not bytes);
    the null-fill is free (parquet readers synthesize missing
    columns); partition pruning and predicate pushdown are unaffected
    because the merged schema is a superset. The operator demonstrates
    the READ posture, so the two staged generations are written ONCE
    per (sf_dir, source fingerprint) — `staged_source_dir` re-stages
    on fixture regeneration, `staged_output`'s completion marker
    guards against serving a partial tree (VERDICT r14 item 7)."""
    ensure_runtime_confs(spark)
    out = stage_schema_evo(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "gen=1"), os.path.join(out, "gen=2")
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("(pre-evolution)"))
            .alias("priority")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("total_cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("priority")
    )


@query(
    "sink_csv_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name || ', "' || n_name || '"' || chr(10) || 'line2:'
                  || n_name AS tricky
    FROM nation
    """,
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV escaping ROUND-TRIP audit (round 9): fields carrying the
    three CSV landmines at once — embedded commas, embedded double
    quotes, and embedded NEWLINES — written through the CSV sink and
    read back; the contract is byte identity with the source
    expression (the sink_parquet write-verified-by-identity
    discipline applied to the format where identity actually breaks
    in the wild). Write quotes+escapes per RFC 4180 (quote doubling);
    the read side needs ``multiLine=true`` — without it every
    embedded newline silently becomes a phantom row, which is exactly
    the corruption class scan_csv_quarantine exists to catch
    downstream.

    Scale note: multiLine CSV is NOT splittable (a reader can't seek
    into a quoted region), so files parallelize per-FILE, not
    per-block — the documented reason parquet is the interchange
    default and CSV is edge-only in this engine.

    The oracle recomputes the tricky field relationally — any
    quoting/escaping asymmetry between write and read hash-fails."""
    ensure_runtime_confs(spark)
    out = os.path.join(
        tempfile.gettempdir(),
        "gds_csv_roundtrip",
        os.path.basename(sf_dir.rstrip("/")),
    )
    nation = load(spark, sf_dir, "nation")
    df = nation.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        F.concat(
            F.col("n_name"),
            F.lit(', "'),
            F.col("n_name"),
            F.lit('"\nline2:'),
            F.col("n_name"),
        ).alias("tricky"),
    )
    df.write.mode("overwrite").option("header", "true").csv(out)
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .schema("n_nationkey bigint, tricky string")
        .csv(out)
    )
    return back


@query(
    "scan_partition_evolution_union",
    """
    WITH unioned AS (
        SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS mth,
               CAST(NULL AS BIGINT) AS dy,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS mth,
               CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS dy,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT mth,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (dy IS NULL) AS BIGINT) AS n_coarse,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM unioned GROUP BY mth ORDER BY mth
    """,
)
def scan_partition_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC evolution read (round 9) — the layout twin of
    scan_schema_evolution_merge's column evolution: generation 1 was
    laid out ``mth=YYYY-MM/`` (coarse), generation 2 re-specced to
    ``mth=YYYY-MM/dy=D/`` (fine) — exactly what happens when a table's
    query pattern shifts from monthly rollups to daily drill-downs.
    Hive-style discovery REFUSES mixed partition depths under one
    root (by design — ambiguous schema), so the correct Spark program
    is the one written here: read each generation under its own spec,
    ``unionByName(allowMissingColumns=true)`` to null-fill the
    missing ``dy``, and aggregate across the boundary; the
    ``n_coarse`` column audits how much of the table still lives in
    the old spec (the repartition-backfill backlog).

    Partition pruning still works PER GENERATION — a ``mth`` filter
    prunes both, a ``dy`` filter prunes gen-2 and falls back to scan
    on gen-1 — which is the real operational trade this operator
    documents (Iceberg's spec-evolution metadata does the same thing
    under the hood).

    Scale: two prunable partitioned reads + a null-filling union —
    no shuffle beyond the final rollup. The operator demonstrates the
    READ posture, so the two staged partition-spec generations are
    written ONCE per (sf_dir, source fingerprint) — the ledger had
    this as its #1 pole at 34.8 s/invocation purely from the
    rmtree+rewrite of the orders table on every call; the
    `staged_source_dir` fingerprint key re-stages on fixture
    regeneration and `staged_output`'s completion marker guards
    against partial trees (VERDICT r14 item 7)."""
    ensure_runtime_confs(spark)
    out = stage_part_evo(spark, sf_dir)
    back1 = spark.read.parquet(os.path.join(out, "gen1"))
    back2 = spark.read.parquet(os.path.join(out, "gen2"))
    merged = back1.unionByName(back2, allowMissingColumns=True)
    return (
        merged.groupBy(F.col("mth").cast("string").alias("mth"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.count_if(F.col("dy").isNull()).cast("bigint").alias("n_coarse"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("mth")
    )


@query(
    "scan_csv_multiline",
    """
    SELECT n_nationkey, n_name,
           n_name || chr(10) || 'line2 of ' || n_name AS n_comment_ml
    FROM nation
    """,
)
def scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV with QUOTED EMBEDDED NEWLINES (round 10) — the
    CSV edge every naive line-splitting reader corrupts: a quoted
    field containing a literal newline (and doubled-quote escapes)
    must parse as ONE record.  The engine stages a multiline CSV from
    the nation dim (each comment field carries an embedded newline),
    reads it with multiLine=true, and must recover exactly the
    relationally-derived rows.  multiLine disables input-split
    parallelism PER FILE (a record may straddle any byte offset), so
    the 100 TB posture is many small-ish files — parallelism across
    files, correctness within each — which is exactly how landing
    zones deliver vendor CSV anyway.

    The oracle never touches the staged file: it derives the same
    three columns relationally, so a parse slip (split record, eaten
    quote) hash-mismatches.

    Scale: staging collects a 25-row dimension (bounded); the read
    path is the production reader configuration."""
    from graphsense_datafeed_spark.sources.tables import staged_source_dir

    base = staged_source_dir(sf_dir, "gds_csv_multiline", "nation")
    csv_path = os.path.join(base, "nation_multiline.csv")
    if not os.path.exists(csv_path):
        os.makedirs(base, exist_ok=True)
        rows = (
            load(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .orderBy("n_nationkey")
            .collect()
        )
        tmp = csv_path + ".tmp"
        with open(tmp, "w") as out:
            for r in rows:
                out.write(
                    f'{r.n_nationkey},"{r.n_name}",'
                    f'"{r.n_name}\nline2 of {r.n_name}"\n'
                )
        os.rename(tmp, csv_path)
    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
            StructField("n_comment_ml", StringType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(csv_path)
        .select("n_nationkey", "n_name", "n_comment_ml")
    )


@query(
    "sink_merge_upsert",
    """
    WITH target AS (
        SELECT c_custkey,
               c_name,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
               c_mktsegment
        FROM customer
    ), updates AS (
        SELECT c_custkey FROM target WHERE c_custkey % 7 = 0
    ), inserts AS (
        SELECT -(c_custkey + 1) AS c_custkey,
               'Customer#NEW' || CAST(c_custkey AS VARCHAR) AS c_name,
               CAST(0 AS BIGINT) AS acctbal_cents,
               'NEWSEG' AS c_mktsegment
        FROM target WHERE c_custkey % 97 = 0
    )
    SELECT t.c_custkey, t.c_name,
           CAST(t.acctbal_cents
                + CASE WHEN u.c_custkey IS NOT NULL THEN 10000
                       ELSE 0 END AS BIGINT) AS acctbal_cents,
           t.c_mktsegment,
           CASE WHEN u.c_custkey IS NOT NULL THEN 'update'
                ELSE 'keep' END AS action
    FROM target t LEFT JOIN updates u USING (c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, acctbal_cents, c_mktsegment,
           'insert' AS action
    FROM inserts
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO semantics through the parquet sink (round 12
    cont.): WHEN MATCHED THEN UPDATE (acctbal +100.00 for the
    key%7=0 change feed), WHEN NOT MATCHED THEN INSERT (key −(k+1)
    synthetic arrivals — strictly negative even for key 0) — the lakehouse upsert primitive
    stream_cdc_apply exercises incrementally, here as the one-shot
    batch form, WRITE-VERIFIED: the merged table round-trips through
    a parquet sink and the returned frame is the re-READ result, so
    any writer/reader asymmetry hash-fails against the relational
    oracle (the sink_csv_roundtrip discipline on the merge shape).

    Exactness: balances are exact cents (round-half-up parity per
    §2.12 on the .5-free TPC-H domain); actions are integer-key set
    logic; insert keys are −(k+1) — deterministic, strictly
    negative (key 0 exists in the fixture), collision-free with the
    nonnegative target domain by construction.

    Scale: the matched probe is a key-equi join (broadcastable change
    feed at real change rates); the insert branch unions map-side;
    the parquet write is partition-parallel.  MERGE at 100 TB is
    exactly this plan plus dynamic partition overwrite on the
    touched partitions (sink_partitioned_overwrite)."""
    ensure_runtime_confs(spark)
    target = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias(
            "acctbal_cents"
        ),
        "c_mktsegment",
    )
    updates = target.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit(True).alias("matched")
    )
    merged = (
        target.join(updates, "c_custkey", "left")
        .select(
            "c_custkey",
            "c_name",
            (
                F.col("acctbal_cents")
                + F.when(F.col("matched"), 10000).otherwise(0)
            )
            .cast("bigint")
            .alias("acctbal_cents"),
            "c_mktsegment",
            F.when(F.col("matched"), F.lit("update"))
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
    )
    inserts = target.filter(F.col("c_custkey") % 97 == 0).select(
        (-(F.col("c_custkey") + 1)).cast("bigint").alias("c_custkey"),
        F.concat(
            F.lit("Customer#NEW"), F.col("c_custkey").cast("string")
        ).alias("c_name"),
        F.lit(0).cast("bigint").alias("acctbal_cents"),
        F.lit("NEWSEG").alias("c_mktsegment"),
        F.lit("insert").alias("action"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        "gds_merge_upsert",
        os.path.basename(sf_dir.rstrip("/")),
    )
    merged.unionByName(inserts).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


_DUCK_TX_TYPE = (
    "STRUCT(tx_hash VARCHAR, coinbase BOOLEAN, total_input BIGINT, "
    "total_output BIGINT, inputs STRUCT(address VARCHAR[], value BIGINT)[], "
    "outputs STRUCT(address VARCHAR[], value BIGINT)[])[]"
)
# local typed-read expression (facade._duck_blocks_sql would be a
# circular import: facade imports scans)
_DUCK_BLOCKS_LOCAL = (
    f"read_json('{BLOCKS_JSONL}', format='newline_delimited', "
    "columns={'height':'BIGINT','block_hash':'VARCHAR','timestamp':'BIGINT',"
    f"'no_transactions':'BIGINT','txs':\"{_DUCK_TX_TYPE}\"}})"
)


@query(
    "scan_nested_schema_pruning",
    f"""
    SELECT height,
           CAST(len(list_transform(txs, t -> (t).tx_hash)) AS BIGINT)
               AS n_txs,
           list_transform(txs, t -> (t).tx_hash)[1] AS first_tx
    FROM {_DUCK_BLOCKS_LOCAL}
    ORDER BY height
    """,
)
def scan_nested_schema_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NESTED SCHEMA PRUNING through a parquet roundtrip (round 12
    cont.): the block feed (deeply nested txs: inputs/outputs of
    address lists) lands in parquet, then a query touching ONLY
    height and txs.tx_hash reads back — and the physical ReadSchema
    must contain tx_hash but NOT inputs/outputs (asserted in
    tests/test_round12_ops.py on the formatted plan).  At 100 TB the
    difference between reading one nested leaf and the whole txs
    struct IS the query budget: this op pins Spark's
    nestedSchemaPruning behavior the way scan_footer_stats pins
    row-group stats.

    Exactness: pure projection — heights, counts and the first tx
    hash are exact; the oracle reads the SAME json fixture through
    DuckDB's typed reader (parquet is a pass-through for these
    values, and any writer/reader asymmetry in the nested encoding
    hash-fails).

    Scale: the write is partition-parallel; the pruned read scans
    one leaf column of one struct array — the plan referee is the
    point."""
    ensure_runtime_confs(spark)
    raw = read_blocks_json(spark)
    out = os.path.join(
        tempfile.gettempdir(),
        "gds_nested_pruning",
        os.path.basename(sf_dir.rstrip("/")),
    )
    raw.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.select(
            "height",
            F.size(F.col("txs.tx_hash")).cast("bigint").alias("n_txs"),
            F.col("txs.tx_hash")[0].alias("first_tx"),
        )
        .orderBy("height")
    )
