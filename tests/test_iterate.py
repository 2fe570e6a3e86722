"""Referees for the iteration primitive (ingest/iterate.py) and the
graph operators built on it: a per-round job budget, release of what
each operator caches, and the primitive's own contracts."""

import os

import pyspark.sql.functions as F
import pytest
from pyspark import StorageLevel

from graphsense_datafeed_spark import registry
from graphsense_datafeed_spark.ingest import graphstats
from graphsense_datafeed_spark.ingest import iterate as iterate_module
from graphsense_datafeed_spark.ingest.iterate import iterate, unrolled_cte

# Jobs an operator may run outside its rounds: building and
# checkpointing its edge list (scan, join and distinct exchanges), the
# node/degree frame, caching the adjacency and the final action.
SETUP_JOBS = 12
ROUNDS = {
    "graph_pagerank": 10,  # max_iter
    "graph_hits_bounded": 2 * graphstats._HITS_ITERS,  # half-rounds
}


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("qid", sorted(ROUNDS))
def test_job_budget_per_round(spark, sf_dir, qid):
    """Each round is at most three jobs: the state exchange (or
    broadcast), the aggregate exchange and the checkpoint, whose
    Observation carries the round's scalars — no separate collect or
    count job per round.  Pinned on the sf0.01 tables next to the
    test scale."""
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf001):
        pytest.skip("sf0.01 tables absent")
    jobs = _jobs_in_group(
        spark,
        f"job-budget-{qid}",
        lambda: registry.QUERIES[qid](spark, sf001).count(),
    )
    assert jobs <= 3 * ROUNDS[qid] + SETUP_JOBS, jobs


PORTED = [
    "graph_pagerank",
    "graph_pagerank_personalized",
    "graph_hits_bounded",
    "graph_bfs_layers",
    "graph_kcore_peel",
    "graph_components",
]


@pytest.mark.parametrize("qid", PORTED)
def test_ported_operator_releases_its_cache(spark, sf_dir, monkeypatch, qid):
    """Whatever an operator persists (its adjacency) has no cache entry
    left in the session's CacheManager once the operator returns."""
    frame_type = type(spark.range(1))
    persisted = []
    real_persist = frame_type.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_type, "persist", recording_persist)
    out = registry.QUERIES[qid](spark, sf_dir)
    assert persisted, f"{qid} cached no adjacency"
    for df in persisted:
        assert df.storageLevel == StorageLevel.NONE, (qid, df.storageLevel)
    assert out.count() >= 0  # the result no longer needs the cache


@pytest.mark.parametrize(
    "qid",
    [
        "graph_pagerank",
        "graph_hits_bounded",
        "graph_bfs_layers",
        "graph_kcore_peel",
        "graph_components",
    ],
)
def test_shuffled_layout_matches_broadcast_layout(spark, sf_dir, monkeypatch, qid):
    """Fixture graphs take the small-graph layout (state broadcast to an
    adjacency partitioned by the message key); large graphs cache the
    adjacency by the join key and shuffle the state.  Forced onto the
    fixture, the large-graph layout must return the same rows."""

    def rows():
        return sorted(map(tuple, registry.QUERIES[qid](spark, sf_dir).collect()))

    small = rows()
    monkeypatch.setattr(iterate_module, "BROADCAST_MAX_ROWS", 0)
    assert rows() == small


def test_pairs_reject_odd_bound_before_caching(spark, monkeypatch):
    frame_type = type(spark.range(1))
    monkeypatch.setattr(
        frame_type, "persist", lambda self, *a, **k: pytest.fail("cached")
    )
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="even"):
        iterate(edges, lambda f, adj, prev, r: f, 3, adjacency=edges,
                key="src", rows=1, pairs=True)


def test_until_and_rounds_run(spark):
    """The loop stops on the first observation that satisfies
    ``until``, counts its rounds and returns every observation."""
    start = spark.range(1).select(F.lit(0).alias("v"))
    run = iterate(
        start,
        lambda f, adj, prev, r: f.select((F.col("v") + 1).alias("v")),
        10,
        scalars={"v": F.max("v")},
        until=lambda seen: seen["v"] == 3,
    )
    assert (run.rounds_run, run.converged) == (3, True)
    assert [m["v"] for m in run.metrics] == [1, 2, 3]
    assert run.state.collect()[0]["v"] == 3
    with pytest.raises(RuntimeError, match="did not converge"):
        iterate(start, lambda f, adj, prev, r: f, 2, scalars={"v": F.max("v")},
                until=lambda seen: False, require_converged=True)


def test_unrolled_cte_chains_rounds():
    sql = unrolled_cte(
        "WITH x0 AS (SELECT 1 AS v)",
        lambda i: f", x{i} AS (SELECT v + 1 AS v FROM x{i - 1})",
        3,
        " SELECT v FROM x3",
    )
    import duckdb

    assert duckdb.sql(sql).fetchall() == [(4,)]
