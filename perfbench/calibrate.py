"""Regenerate ``expected.json``: the engine hash of every query the query
workloads run, on the benchmark's own tables.

    python3 perfbench/calibrate.py [qid ...]

Each query runs once through ``registry.QUERIES``; its result is hashed
with ``checks.engine_hash``. Where the registry holds a DuckDB oracle
for the id, the oracle runs on the same parquet files and is reduced
with ``checks.duck_engine_hash`` (the same canonical-text rules); a
disagreement is reported and the id is left out of the file, so the
benchmark then counts it as failed.
Run it only when the tables generator or a query's intended result
changes, and review the diff of ``expected.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def main(only: list[str]) -> int:
    run_dir = os.path.join(run.WORK, "calibrate")
    run.configure_env(run_dir, None)
    sys.path.insert(0, run.HERE)
    import duckdb

    from checks import duck_engine_hash, engine_hash
    from graphsense_datafeed_spark import registry
    from graphsense_datafeed_spark.session import build_session

    sf_dir = run.query_tables()
    registry.load_all_operators()
    spark = build_session("perfbench-calibrate")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    path = os.path.join(run.HERE, "expected.json")
    expected = {}
    if os.path.exists(path):
        with open(path) as fh:
            expected = json.load(fh)
    bad = 0
    for qid in run.GRAPH_QUERIES + run.ANALYTICS_QUERIES:
        if only and qid not in only:
            continue
        got = engine_hash(registry.QUERIES[qid](spark, sf_dir))
        oracle = registry.ORACLES.get(qid)
        if oracle is None:
            got["oracle"] = "none"
        else:
            want = duck_engine_hash(con, oracle, qid)
            if want != got:
                print(f"MISMATCH {qid}: spark {got} duckdb {want}", file=sys.stderr)
                expected.pop(qid, None)
                bad += 1
                continue
            got["oracle"] = "duckdb"
        expected[qid] = got
        print(f"{qid}: n={got['n']} oracle={got['oracle']}", file=sys.stderr)
    run.stop_engine(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
