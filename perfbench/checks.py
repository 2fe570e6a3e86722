"""Output checks for the benchmark, run outside every timed window.

- ``engine_hash`` and ``duck_engine_hash`` are the canonical engine
  hashes of ``scripts/verify_driver_style`` (``_spark_engine_hash`` and
  ``_duck_engine_hash``), recorded as ``{"cols", "n", "h1", "h2"}``
  with the two sums as text, the form ``expected.json`` stores.
- ``check_sink`` compares the five sink tables with the generator's
  tallies.
- ``check_daemon`` compares the daemon's drained table with the batch
  referee ``batch_ingest_blocks``.

Each ``check_*`` returns a list of mismatch descriptions; empty means
correct.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_verify_driver_style():
    path = os.path.join(ROOT, "scripts", "verify_driver_style.py")
    spec = importlib.util.spec_from_file_location("verify_driver_style", path)
    module = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved  # the script prepends its own search paths
    return module


_VERIFY = _load_verify_driver_style()


def _record(cols: list[str], n: int, h1: int, h2: int) -> dict:
    return {"cols": cols, "n": n, "h1": str(h1), "h2": str(h2)}


def engine_hash(sdf: DataFrame) -> dict:
    return _record(*_VERIFY._spark_engine_hash(sdf))


def duck_engine_hash(con, sql: str, qid: str) -> dict:
    return _record(*_VERIFY._duck_engine_hash(con, sql, qid))


def check_query(qid: str, sdf: DataFrame, expected: dict) -> list[str]:
    want = expected.get(qid)
    if want is None:
        return [f"{qid}: no expected hash"]
    got = engine_hash(sdf)
    keys = ("cols", "n", "h1", "h2")
    if any(got[k] != want[k] for k in keys):
        return [f"{qid}: hash {got} != expected {dict((k, want[k]) for k in keys)}"]
    return []


def check_sink(spark: SparkSession, sink_dir: str, tallies: dict) -> list[str]:
    bad = []
    tables = {t: spark.read.parquet(f"{sink_dir}/{t}") for t in tallies["rows"]}
    for name, want in tallies["rows"].items():
        got = tables[name].count()
        if got != want:
            bad.append(f"sink {name}: {got} rows != {want}")
    total = tables["tx_output"].agg(F.sum("value_satoshi")).collect()[0][0]
    if total != tallies["value_satoshi"]:
        bad.append(f"sink tx_output: value_satoshi {total} != {tallies['value_satoshi']}")
    row_text = F.concat_ws("|", "address", "n_outputs", "total_received")
    h = (
        tables["address_totals"]
        .select(F.conv(F.substring(F.md5(row_text), 1, 15), 16, 10)
                .cast("decimal(38,0)").alias("h"))
        .agg(F.sum("h"))
        .collect()[0][0]
    )
    if int(h or 0) != tallies["address_totals_hash"]:
        bad.append("sink address_totals: per-address hash mismatch")
    return bad


def check_daemon(spark: SparkSession, feed_dir: str, target_dir: str) -> list[str]:
    from graphsense_datafeed_spark.ingest.facade import batch_ingest_blocks

    want = engine_hash(batch_ingest_blocks(spark, feed_dir))
    got = engine_hash(spark.read.parquet(target_dir).drop("hbucket"))
    return [] if got == want else [f"daemon table {got} != batch referee {want}"]
