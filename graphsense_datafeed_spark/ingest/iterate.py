"""The package's one materialization module, and the iteration
primitive built on it.

Every frame the package materializes goes through this module:
``materialize`` is the one ``localCheckpoint`` call, ``checkpoint``
adds observed scalars to it, ``cache_adjacency`` is the one
partition-keeping ``persist`` and ``persist_memo`` the one persist
that outlives a call (fingerprint-guarded, swept when its session
stops).  This module decides HOW a frame is materialized; the comment
at each call site says WHY that frame is (a reused subtree, lineage
truncation, an observed count).  ``tests/test_plans.py`` fails on a
raw ``localCheckpoint``/``persist`` anywhere else in the package.

PageRank (plain and personalized), HITS, BFS, k-core peeling and
min-label propagation share one loop shape — the Pregel / GraphFrames
``aggregateMessages`` round: a small per-node state frame meets a
static adjacency, is aggregated, is materialized, and a few scalars
read back by the loop (dangling mass, L1 delta, normalizer total,
frontier size, changed count) steer the next round.  ``iterate`` owns
that shape:

- the adjacency is cached ONCE as ``repartition(n, key).persist()`` —
  persist, NOT localCheckpoint: a localCheckpointed LogicalRDD of an
  AQE plan reports UnknownPartitioning (the round join re-shuffled
  the edge set every round), while a cached plan keeps its output
  partitioning (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
  is false by default), so a state frame joined on the adjacency key
  moves and the edge set does not.  ``n`` is derived from the row
  count (~2M rows per partition, floor 2, capped by
  ``spark.sql.shuffle.partitions``): AQE cannot re-coalesce a cached
  plan without losing the reusable partitioning, so the count plays
  AQE's role.  Floor 2, not 1: ``repartition(1, col)`` plans as
  SinglePartition, which EnsureRequirements does not reuse;
- each round is materialized by ONE ``localCheckpoint``, which also
  truncates the iterative lineage: without it round N's plan embeds
  rounds 1..N-1 and analysis/codegen time grows without bound
  (measured).  The
  round's scalars ride that same job as an ``Observation`` — no
  separate ``collect()``/``count()``/``isEmpty()`` job per round;
- rounds run in PAIRS (``pairs=True``) where no scalar read back feeds
  the next round: the mid round stays lazy inside the second round's
  lineage, halving the materializations;
- the cached adjacency is unpersisted before returning (the returned
  state is checkpoint-materialized, so it cannot trigger recompute).

Small graphs (fewer than ``BROADCAST_MAX_ROWS`` adjacency rows, and
under the hub census size) flip the layout: the adjacency is
partitioned by the MESSAGE key (``to``, where a round aggregates) and
the state is broadcast to it, so the round's aggregate needs no
exchange — two jobs per round (the broadcast, the checkpoint) instead
of three (the state exchange, the aggregate exchange, the checkpoint).
The state is never larger than the adjacency, which bounds the
broadcast.

Skew (guide §2.5): the cached partitioning is fixed, so AQE cannot
skew-split the round join.  With ``salt_on`` set, a one-pass census
over the adjacency (run only once it exceeds one partition target —
below that no single key can dominate a full-sized partition) finds
keys whose rows exceed half a target partition, splits their rows
across ``n`` deterministic salt buckets (a hash of ``salt_on``, never
rand() — SPARK-38388 retry safety), and ``Adjacency.join`` replicates
ONLY the hub keys of the state frame across the salt range.  The
bounded ``limit(64)`` keeps the census collect O(1); a graph with more
mega-hubs degrades gracefully to unsalted behavior for the rest.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

ROWS_PER_PART = 2_000_000  # target adjacency rows per cached partition
# Run the hub census only when the adjacency exceeds one partition
# target (measured ~1 s of pure fixed cost on the small fixture
# graphs otherwise). Tests lower it to force the salted branch.
HUB_CENSUS_MIN_ROWS = ROWS_PER_PART
# Largest adjacency whose rounds broadcast the state (module docstring).
BROADCAST_MAX_ROWS = 200_000


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage (one
    localCheckpoint).  Chained sites use ``.transform(materialize)``."""
    return df.localCheckpoint()


def checkpoint(df: DataFrame, **scalars) -> tuple[DataFrame, dict]:
    """``materialize(df)``; each named aggregate Column in ``scalars``
    is computed by an Observation on that same job.  Returns
    ``(materialized, {name: value})``."""
    if not scalars:
        return materialize(df), {}
    obs = Observation()
    out = materialize(df.observe(obs, *(c.alias(k) for k, c in scalars.items())))
    return out, obs.get


# persist_memo's entries: (id(session), *key) -> (fingerprint, frame).
_MEMO: dict[tuple, tuple[str, DataFrame]] = {}


def _session_stopped(df: DataFrame) -> bool:
    try:
        # SparkContext.stop() drops its JVM handle (``_jsc = None``)
        jsc = df.sparkSession.sparkContext._jsc
        return jsc is None or jsc.sc().isStopped()
    except Exception:
        # probe unavailable (e.g. Spark Connect) -> assume LIVE and
        # keep: dropping a live entry would orphan its persisted data
        # server-side
        return False


def persist_memo(spark, key: tuple, fingerprint: str, build) -> DataFrame:
    """Persisted ``build()`` memoized per (session, ``key``), guarded by
    the source ``fingerprint``: a hit reuses the frame; a miss or a
    stale fingerprint unpersists the superseded entry and rebuilds.
    Every miss also drops the entries of STOPPED sessions: a new
    session gets a new id(), so a dead session's entries could never
    hit again and would pin their frames (and the session object) for
    the life of the process."""
    key = (id(spark), *key)
    hit = _MEMO.get(key)
    if hit is not None and hit[0] == fingerprint:
        return hit[1]
    if hit is not None:
        hit[1].unpersist()
    for k in [k for k, (_, df) in _MEMO.items() if k != key and _session_stopped(df)]:
        del _MEMO[k]
    df = build().persist()
    _MEMO[key] = (fingerprint, df)
    return df


@dataclass
class Adjacency:
    """The cached adjacency a round joins against: partitioned by the
    join ``key`` (the state is shuffled to it), or by the message key
    when ``broadcast`` (the state is broadcast)."""

    frame: DataFrame
    key: str
    n_parts: int
    hubs: list
    broadcast: bool = False

    def join(self, state: DataFrame, on: str, by: str | None = None) -> DataFrame:
        """Join ``state`` (keyed by column ``on``) to the adjacency's
        column ``by`` (default: the join key), moving only the state.
        Under salting the hub rows of ``state`` are replicated across
        the salt range, so each adjacency row still matches EXACTLY one
        state row and the joined multiset is identical to the unsalted
        form.  A ``by`` other than the join key on a shuffled layout
        is left to the planner."""
        adj, by = self.frame, by or self.key
        if self.broadcast:
            return adj.join(F.broadcast(state), adj[by] == state[on])
        if by != self.key:
            return adj.join(state, adj[by] == state[on])
        if not self.hubs:
            return adj.join(state.hint("shuffle_hash"), adj[by] == state[on])
        salted = state.withColumn(
            "salt",
            F.explode(
                F.when(
                    F.col(on).isin(self.hubs),
                    F.sequence(F.lit(0), F.lit(self.n_parts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        return adj.join(
            salted.hint("shuffle_hash"),
            (adj[self.key] == salted[on]) & (adj.salt == salted.salt),
        ).drop(salted.salt)


def cache_adjacency(
    df: DataFrame,
    key: str,
    to: str,
    rows: int | None = None,
    salt_on: str | None = None,
) -> Adjacency:
    """Cache ``df`` once, hash-partitioned on the join ``key`` or, on a
    small graph, on the message key ``to`` (see the module docstring).
    ``rows`` is the frame's row count when the caller has already
    observed it; otherwise ``df`` is checkpointed with an observed
    count.  ``salt_on`` names the column whose hash spreads a hub
    key's rows (hub census off when None)."""
    if rows is None:
        df, seen = checkpoint(df, rows=F.count(F.lit(1)))
        rows = seen["rows"]
    n_default = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_parts = max(2, min(n_default, -(-rows // ROWS_PER_PART)))
    if rows < min(BROADCAST_MAX_ROWS, HUB_CENSUS_MIN_ROWS):
        return Adjacency(df.repartition(n_parts, to).persist(), key, n_parts, [], True)
    hubs: list = []
    if salt_on is not None and rows >= HUB_CENSUS_MIN_ROWS:
        hub_threshold = max(64, -(-rows // n_parts) // 2)
        hubs = [
            r[key]
            for r in df.groupBy(key)
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > hub_threshold)
            .orderBy(F.col("c").desc(), F.col(key))
            .limit(64)
            .collect()
        ]
    if hubs:
        salt = (
            F.when(F.col(key).isin(hubs), F.pmod(F.xxhash64(salt_on), F.lit(n_parts)))
            .otherwise(F.lit(0))
            .cast("int")
        )
        frame = df.withColumn("salt", salt).repartition(n_parts, key, "salt")
    else:
        frame = df.repartition(n_parts, key)
    return Adjacency(frame.persist(), key, n_parts, hubs)


@dataclass
class Iteration:
    """What ``iterate`` returns: the last materialized state, the
    number of rounds run, the observed scalars of every
    materialization, the salted hub keys and whether ``until`` fired."""

    state: DataFrame
    rounds_run: int
    metrics: list = field(default_factory=list)
    hubs: list = field(default_factory=list)
    converged: bool = False


def iterate(
    state: DataFrame,
    step,
    max_rounds: int,
    *,
    scalars: dict | None = None,
    until=None,
    initial: dict | None = None,
    adjacency: DataFrame | None = None,
    key: str | None = None,
    to: str | None = None,
    rows: int | None = None,
    salt_on: str | None = None,
    pairs: bool = False,
    require_converged: bool = False,
) -> Iteration:
    """Run ``step`` for at most ``max_rounds`` rounds.

    ``step(frame, adj, prev, r)`` returns round ``r``'s lazy frame from
    the previous one; ``adj`` is the cached ``Adjacency`` (None without
    ``adjacency``) and ``prev`` the scalars observed on the previous
    materialization (``initial`` before round 1).  ``scalars`` maps
    names to aggregate Columns over a round's output, observed on its
    checkpoint job; ``until(observed)`` ends the loop early.
    ``adjacency`` is cached once by ``cache_adjacency(adjacency, key,
    to, rows, salt_on)`` and released before returning.  With
    ``pairs=True`` two rounds run per materialization and
    ``max_rounds`` must be even.  ``require_converged=True`` raises
    RuntimeError when the bound is hit before ``until`` fired.
    """
    if max_rounds < 1 or (pairs and max_rounds % 2):
        raise ValueError(
            f"max_rounds must be a positive{' even' if pairs else ''} "
            f"round count (pairs={pairs}), got {max_rounds}"
        )
    adj = None
    if adjacency is not None:
        adj = cache_adjacency(adjacency, key, to, rows, salt_on)
    run = Iteration(state, 0, hubs=list(adj.hubs) if adj else [])
    prev = dict(initial or {})
    try:
        while run.rounds_run < max_rounds:
            frame = run.state
            for _ in range(2 if pairs else 1):
                run.rounds_run += 1
                frame = step(frame, adj, prev, run.rounds_run)
            run.state, prev = checkpoint(frame, **(scalars or {}))
            run.metrics.append(prev)
            if until is not None and until(prev):
                run.converged = True
                break
    finally:
        if adj is not None:
            adj.frame.unpersist()
    if require_converged and not run.converged:
        raise RuntimeError(
            f"iteration did not converge within {max_rounds} rounds; "
            "raise the bound (e.g. the component diameter exceeds it)"
        )
    return run


def unrolled_cte(head: str, step, iters: int, tail: str) -> str:
    """SQL text for a hand-unrolled iteration oracle: ``head`` opens
    the WITH clause (round 0), ``step(i)`` is round ``i``'s chained
    CTE text (it reads round ``i - 1``'s), ``tail`` is the final
    SELECT over round ``iters``."""
    return head + "".join(step(i) for i in range(1, iters + 1)) + tail
