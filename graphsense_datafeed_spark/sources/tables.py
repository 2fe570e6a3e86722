"""Typed loaders for the fixture tables (SURVEY §2.1 ``scan_parquet``).

The reference's sources are a bitcoind HTTP API and a rates API feeding
fixed-schema Cassandra tables (SURVEY.md §1.2, §3.1); here every source
is a typed columnar scan. Loads go through explicit StructType schemas
(schemas.py) — no inference — so column pruning and predicate pushdown
have precise types to work with.

Scale notes:
- ``spark.read.schema(s).parquet(path)`` scans are fully
  Catalyst-managed: filters/projections placed on top of these reads
  reach the parquet reader (``PushedFilters`` / ``ReadSchema`` — see
  tests/test_plans.py which asserts this on real queries).
- At 100 TB the same loader reads a partitioned directory tree instead
  of one file; nothing else changes. Partition-column pruning then
  composes with the row-group pruning already exercised here.
- ``events`` needs the ns→µs conversion below; it is a pure projection
  (no shuffle) and keeps the scan vectorized.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from graphsense_datafeed_spark.ingest.iterate import persist_memo
from graphsense_datafeed_spark.schemas import (
    EVENTS_RAW,
    EVENTS_US,
    TABLE_SCHEMAS,
    TABLES,
)
from graphsense_datafeed_spark.session import ensure_runtime_confs


def path_for(sf_dir: str, table: str) -> str:
    return f"{sf_dir}/{table}.parquet"


def source_fingerprint(path: str) -> str:
    """Short content-identity token for a source file/dir: hex digest of
    every member file's (relpath, size, mtime_ns). The fixture generator
    regenerates /root/testdata between rounds (and has changed physical
    types in place once — the events ns→µs incident), so anything staged
    or memoized FROM a source must key on this, not on the path alone:
    a regenerated source then misses the cache and rebuilds instead of
    silently serving stale bytes. Stat-only — no data read.

    Inode is folded in alongside size+mtime_ns so an equal-size rewrite
    restored with mtime preservation (cp -p / rsync -t) still changes
    the fingerprint — a regeneration writes a new inode even when it
    replays both size and mtime (ADVICE r4)."""
    import hashlib

    h = hashlib.sha256()
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for name in sorted(files):
                full = os.path.join(root, name)
                st = os.stat(full)
                rel = os.path.relpath(full, path)
                h.update(
                    f"{rel}|{st.st_size}|{st.st_mtime_ns}|{st.st_ino}\n".encode()
                )
    else:
        st = os.stat(path)
        h.update(f"{st.st_size}|{st.st_mtime_ns}|{st.st_ino}".encode())
    return h.hexdigest()[:16]


def staged_source_dir(sf_dir: str, label: str, table: str) -> str:
    """Tempdir base for a staged derivative of ``sf_dir/table``, keyed
    on the source fingerprint so a regenerated fixture re-stages
    (never serves stale bytes), with superseded fingerprint siblings
    removed so abandoned stagings don't accumulate. The single home of
    the pattern — every staged operator (layout_compact, scan_orc,
    scan_schema_evolution, scan_partition_pruning, source_rate_stream)
    goes through here."""
    import hashlib
    import shutil
    import tempfile

    fp = source_fingerprint(path_for(sf_dir, table))
    base = os.path.join(tempfile.gettempdir(), label)
    # the stale-sibling sweep matches on a prefix that identifies the
    # FULL source path, not just its basename: two fixture roots named
    # e.g. .../a/sf0.01 and .../b/sf0.01 must not evict each other's
    # stagings (ADVICE r4), so a short hash of the absolute sf_dir is
    # part of the prefix.
    root_tag = hashlib.sha256(
        os.path.abspath(sf_dir.rstrip("/")).encode()
    ).hexdigest()[:8]
    prefix = f"{os.path.basename(sf_dir.rstrip('/'))}-{root_tag}-"
    name = prefix + fp
    if os.path.isdir(base):
        for d in os.listdir(base):
            if d.startswith(prefix) and d != name:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return os.path.join(base, name)


# The fixture generator has shipped events.ts as BOTH timestamp[ns]
# (rounds 1-2) and timestamp[us] (round 3), so the unit is detected
# from the footer, not assumed.  Detection is one schema-inference
# read (footer metadata only, no data pages — cheap even on a
# partitioned 100 TB directory tree).  The unit is a property of the
# FILE, not the session, so the memo keys on (path, fingerprint):
# a regenerated file invalidates the entry, and no id()-recycled
# session can be served another session's verdict.
_TS_UNIT: dict[tuple[str, str], str] = {}


def events_ts_unit(spark: SparkSession, path: str) -> str:
    """'ns' if the events file stores timestamp[ns] (surfaced as int64
    under nanosAsLong), 'us' for native timestamp[us]."""
    key = (path, source_fingerprint(path))
    if key not in _TS_UNIT:
        from pyspark.sql.types import LongType

        inferred = spark.read.parquet(path).schema["ts"].dataType
        _TS_UNIT[key] = "ns" if isinstance(inferred, LongType) else "us"
    return _TS_UNIT[key]


def normalize_events_ts(df: DataFrame, unit: str) -> DataFrame:
    """ns→µs truncation for ns files; identity for µs files. Pure
    projection — no shuffle, scan stays vectorized."""
    if unit == "ns":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


# Opt-in hot-table cache (SPARK_GRAFT_CACHE=1): persists loaded tables
# in executor memory/disk so repeated queries reuse the columnar scan.
# The production analog is caching hot dimensions; Spark LRU-evicts
# under pressure so enabling it is safe at any SF that fits the
# cluster. Entries live in ingest.iterate's persist_memo, keyed per
# (session, sf_dir, table) and guarded by the source fingerprint.
def _cache_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_CACHE", "0") == "1"


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one fixture table with its explicit schema.

    ``events``: the ts unit is detected per file (``events_ts_unit``).
    ns files (rounds 1-2) arrive as int64 under ``nanosAsLong`` (ensured
    here at runtime — the driver hands us a session we didn't build) and
    are truncated to µs; µs files (round 3) map straight to
    TIMESTAMP_NTZ. Either way the loaded column equals DuckDB's read of
    the same file exactly (verified; FIXTURES.md header).
    """
    if table not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {table!r}; known: {TABLES}")
    path = path_for(sf_dir, table)

    def read() -> DataFrame:
        ensure_runtime_confs(spark)
        if table == "events":
            unit = events_ts_unit(spark, path)
            schema = EVENTS_RAW if unit == "ns" else EVENTS_US
            return normalize_events_ts(spark.read.schema(schema).parquet(path), unit)
        return spark.read.schema(TABLE_SCHEMAS[table]).parquet(path)

    if not _cache_enabled():
        return read()
    # fingerprint guard: a regenerated fixture misses the cache (same
    # discipline as events_ts_unit / the staged dirs). Computed ONLY
    # here — with caching off (the default) load() stays stat-free on
    # the hot path.
    return persist_memo(
        spark, ("table", sf_dir.rstrip("/"), table), source_fingerprint(path), read
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """SURVEY §2.1 ``table_register``: name every table for SQL entry."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(prefix + t)
