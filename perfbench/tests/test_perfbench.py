"""Tests for the benchmark's own code (not the engine's).

    python3 -m pytest perfbench/tests -q

Runs without a Spark session: the generators, the tallies against a
DuckDB read, the event-log fold against a small recorded log, and the
metric names against BENCHMARK.json.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
from contextlib import redirect_stdout

import pytest

import feed
import run
from eventlog import fold_file

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL_LOG = os.path.join(HERE, "data", "small_eventlog.json")


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_block_feed_is_a_function_of_the_seed(tmp_path):
    a = feed.write_block_feed(str(tmp_path / "a"), seed=7, n_blocks=60)
    b = feed.write_block_feed(str(tmp_path / "b"), seed=7, n_blocks=60)
    c = feed.write_block_feed(str(tmp_path / "c"), seed=8, n_blocks=60)
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a != c


def test_header_feed_is_a_function_of_the_seed(tmp_path):
    a = feed.write_header_feed(str(tmp_path / "a"), seed=7)
    b = feed.write_header_feed(str(tmp_path / "b"), seed=7)
    c = feed.write_header_feed(str(tmp_path / "c"), seed=8)
    assert a == b
    assert a["reorg_files"] == c["reorg_files"] == round(feed.REORG_SHARE * feed.HEADER_FILES)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_header_feed_reorgs_only_reannounce_delivered_heights(tmp_path):
    feed.write_header_feed(str(tmp_path), seed=3)
    seen: set[int] = set()
    for name in sorted(os.listdir(tmp_path)):
        with open(tmp_path / name) as fh:
            heights = {json.loads(line)["height"] for line in fh}
        assert heights <= seen or not heights & seen
        seen |= heights


def test_tallies_match_a_duckdb_read(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    tallies = feed.write_block_feed(str(tmp_path), seed=5, n_blocks=80)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW b AS SELECT * FROM read_json('{tmp_path}/*.jsonl', "
        "format='newline_delimited', columns={'height': 'BIGINT', "
        "'txs': 'STRUCT(tx_hash VARCHAR, outputs STRUCT(address VARCHAR[], "
        "value BIGINT)[])[]'})"
    )
    con.sql("CREATE VIEW tx AS SELECT unnest(txs) AS tx FROM b")
    con.sql(
        "CREATE VIEW o AS SELECT o.address[1] AS address, o.value AS value "
        "FROM (SELECT unnest(tx.outputs) AS o FROM tx)"
    )
    rows = {
        "block": con.sql("SELECT count(*) FROM b").fetchone()[0],
        "transaction": con.sql("SELECT count(*) FROM tx").fetchone()[0],
        "tx_output": con.sql("SELECT count(*) FROM o").fetchone()[0],
        "address_totals": con.sql("SELECT count(DISTINCT address) FROM o").fetchone()[0],
        "summary_statistics": 1,
    }
    assert rows == tallies["rows"]
    assert con.sql("SELECT sum(value) FROM o").fetchone()[0] == tallies["value_satoshi"]
    totals = {
        a: (n, v)
        for a, n, v in con.sql(
            "SELECT address, count(*), sum(value) FROM o GROUP BY address"
        ).fetchall()
    }
    assert feed.address_totals_hash(totals) == tallies["address_totals_hash"]


def test_block_shape_matches_the_committed_fixture():
    # feed.py takes its block shape from fixtures/blocks.jsonl
    with open(os.path.join(run.ROOT, "fixtures", "blocks.jsonl")) as fh:
        blocks = [json.loads(line) for line in fh]
    txs = [tx for b in blocks for tx in b["txs"]]
    n_tx = [len(b["txs"]) for b in blocks]
    n_in = [len(tx["inputs"]) for tx in txs if not tx["coinbase"]]
    n_out = [len(tx["outputs"]) for tx in txs]
    legs = [x for tx in txs for x in tx["inputs"] + tx["outputs"]]
    values = [x["value"] for x in legs]
    assert (min(n_tx), max(n_tx)) == feed.TX_PER_BLOCK
    assert (min(n_in), max(n_in)) == feed.INPUTS_PER_TX
    assert (min(n_out), max(n_out)) == feed.OUTPUTS_PER_TX
    assert feed.VALUE_SATOSHI[0] <= min(values) and max(values) <= feed.VALUE_SATOSHI[1]
    for h, b in enumerate(blocks):
        drift = b["timestamp"] - feed.GENESIS_TS - h * feed.BLOCK_INTERVAL_S
        assert abs(drift) <= feed.JITTER_S
    # 488 distinct addresses in the fixture, drawn from a pool of 500
    pool = feed.ADDRESSES_PER_BLOCK * len(blocks)
    assert 0.95 * pool <= len({x["address"][0] for x in legs}) <= pool


def test_zipf_hubs_draw_a_large_share(tmp_path):
    feed.write_block_feed(str(tmp_path), seed=1, n_blocks=200)
    counts: dict[str, int] = {}
    for name in os.listdir(tmp_path):
        with open(tmp_path / name) as fh:
            for line in fh:
                for tx in json.loads(line)["txs"]:
                    for out in tx["outputs"]:
                        counts[out["address"][0]] = counts.get(out["address"][0], 0) + 1
    top = sorted(counts.values(), reverse=True)
    assert sum(top[:10]) > 0.2 * sum(top)


def test_event_log_fold_against_recorded_log():
    # recorded from: a filtered parquet count of 1000 rows (t:scan), a
    # repartition(3) + groupBy over the same file (t:shuffle), a
    # pandas_udf over range(100) in 2 partitions (t:python) and an
    # ungrouped range(10).count()
    groups = fold_file(SMALL_LOG, default_group="none")
    assert set(groups) == {"t:scan", "t:shuffle", "t:python", "none"}
    scan, shuffle, python, none = (groups[g] for g in ("t:scan", "t:shuffle", "t:python", "none"))
    assert (scan.jobs, scan.stages, scan.tasks) == (2, 3, 3)
    assert scan.input_rows == 1000 and scan.input_bytes > 0
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (2, 4, 9)
    assert shuffle.input_rows == 1000
    assert shuffle.shuffle_write_bytes == shuffle.shuffle_read_bytes > 0
    assert shuffle.python_bytes_sent == 0
    assert (python.jobs, python.tasks) == (1, 2)
    assert python.python_bytes_sent > 0 and python.python_bytes_returned > 0
    assert python.shuffle_read_bytes == 0
    assert none.jobs == 1
    assert all(g.run_ms > 0 and g.cpu_ns > 0 for g in groups.values())


def test_fold_assigns_ungrouped_jobs_to_the_default_group():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
                    "Properties": {}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {},
                    "Task Metrics": {"Executor Run Time": 5}}),
    ]
    from eventlog import fold

    groups = fold(lines, default_group="stream")
    assert groups["stream"].jobs == 1 and groups["stream"].run_ms == 5


def _benchmark_json() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOAD_QUERIES)


def test_result_line_shape():
    bench = run.Bench("graph_iterative", 1, 1.0, False)
    bench.attempted = 3
    out = io.StringIO()
    with redirect_stdout(out):
        code = bench.report({"wall_s": 1.5}, {"wall_s": 1})
    lines = out.getvalue().splitlines()
    assert code == 0
    assert lines[0].startswith("# wall_s = 1.5 s")
    result = json.loads(lines[-1])
    assert result == {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"wall_s": {"value": 1.5, "unit": "s"}},
    }


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert run.tail_percentile(100) == 90.0
    assert run.tail_percentile(20) == 50.0
    assert run.percentile([1, 2, 3, 4, 5], 50) == 3
    assert run.percentile([1, 2, 3, 4, 5], 90) == pytest.approx(4.6)
