"""Structural statistics over the address co-occurrence graph.

The datafeed's downstream consumers (SURVEY §1.1 — the address/entity
graph the wider platform derives) ask structural questions of the graph
the feed builds: how clustered is it (triangles), how are degrees
distributed (hubs vs leaves). Both are pure relational programs over
the same co-occurrence edge set `graph_components` uses — no graph
library, exact DuckDB oracles.

Each shared graph frame has one builder, and every query calls it:
- `cooccurrence_edges` (in facade.py, next to `flow_edges`): the
  address co-occurrence edges;
- `_copurchase_bipartite`: the customer–part co-purchase bipartite
  frame, (cust, part) distinct;
- `_copurchase_pairs`: its within-part customer pairs sharing ≥3 parts.
The builders return lazy frames; a query that reads one more than
once materializes it itself.

Scale notes (100 TB):
- The edge set is DISTINCT (a < b) pairs per tx — built by one
  shuffle on tx_hash, deduped by one shuffle on the edge key. Every
  downstream op shuffles on node ids only.
- Triangle enumeration joins the ordered edge list with itself twice.
  Ordering every edge low→high node id is the classic halving trick
  (each triangle counted once, not 6×); the remaining scale hazard is
  hub nodes (a node of degree d contributes O(d²) wedge rows). The
  production refinement — orienting edges by DEGREE so every wedge
  pivots on its lowest-degree vertex, bounding work by arboricity —
  is one extra broadcast join against the degree table; documented
  here, not needed at fixture scale.
- The degree histogram is two cascaded aggregations (node → degree,
  degree → count); both partial-aggregate map-side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphsense_datafeed_spark.functions.hashing import md5_int
from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.ingest.facade import _DUCK_BLOCKS, cooccurrence_edges
from graphsense_datafeed_spark.ingest.iterate import checkpoint, iterate, unrolled_cte
from graphsense_datafeed_spark.sources.scans import read_blocks_json
from graphsense_datafeed_spark.sources.tables import load

_DUCK_EDGES = f"""
    txio AS (
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
        SELECT DISTINCT a.addr AS src, b.addr AS dst
        FROM base a JOIN base b USING (tx_hash) WHERE a.addr < b.addr
    )
"""


def _copurchase_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cust, part) distinct — the customer–part co-purchase bipartite
    graph: customer ``cust`` bought part ``part`` on some order.  Lazy:
    a caller that reads it more than once materializes it itself."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )


def _copurchase_pairs(bip: DataFrame) -> DataFrame:
    """(cust_a, cust_b, common_parts) over a ``_copurchase_bipartite``
    frame: customer pairs, cust_a < cust_b, sharing at least 3 parts.

    Pairs are generated only within a shared part (an equi-join on the
    part key, never customer × customer), so the work is Σ_part d_p²,
    not |customers|².  The join's build side is hinted SHUFFLE_HASH:
    hash-build beat sort-merge on this join, interleaved A/B at sf0.1
    ~3.0 vs ~4.2 s; the build side is one hash partition of ``bip``,
    bounded by shuffle-partition sizing."""
    a = bip.alias("a")
    b = bip.hint("SHUFFLE_HASH").alias("b")
    return (
        a.join(
            b,
            (F.col("a.part") == F.col("b.part"))
            & (F.col("a.cust") < F.col("b.cust")),
        )
        .groupBy(F.col("a.cust").alias("cust_a"), F.col("b.cust").alias("cust_b"))
        .agg(F.count("*").cast("bigint").alias("common_parts"))
        .filter(F.col("common_parts") >= 3)
    )


@query(
    "graph_triangle_count",
    f"""
    WITH {_DUCK_EDGES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.src = e1.dst
    JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the address co-occurrence graph.

    Pure join program on the lexicographically oriented edge list:
    wedge a<b<c exists when (a,b) and (b,c) are edges; the third join
    checks the closing edge (a,c). Orientation counts each triangle
    exactly once. The wedge join shuffles on node ids; the closing
    check is an equi-join on the (src, dst) pair — at 100 TB the
    degree-orientation refinement (pivot every wedge on its
    lowest-DEGREE vertex) bounds wedge fan-out by graph arboricity and
    slots in as one extra join against the degree table.
    """
    e = cooccurrence_edges(spark)
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    wedges = e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
    return (
        wedges.join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
            "left_semi",
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


@query(
    "graph_degree_hist",
    f"""
    WITH {_DUCK_EDGES}, sym AS (
        SELECT src AS addr, dst AS nbr FROM edges
        UNION
        SELECT dst AS addr, src AS nbr FROM edges
    ), deg AS (
        SELECT addr, CAST(COUNT(*) AS BIGINT) AS degree
        FROM sym GROUP BY addr
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the address co-occurrence graph: for
    each degree value, how many nodes have it. Symmetrize the oriented
    edge list (UNION dedups), count neighbors per node, histogram the
    counts — two cascaded map-side-combinable aggregations, the
    shape that survives any scale."""
    e = cooccurrence_edges(spark)
    sym = e.select(
        F.col("src").alias("addr"), F.col("dst").alias("nbr")
    ).union(e.select(F.col("dst").alias("addr"), F.col("src").alias("nbr"))).distinct()
    deg = sym.groupBy("addr").agg(F.count("*").cast("bigint").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").cast("bigint").alias("n_nodes"))


@query(
    "graph_common_neighbors",
    """
    WITH bip AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), deg AS (
        SELECT cust, CAST(COUNT(*) AS BIGINT) AS d FROM bip GROUP BY cust
    ), pairs AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b,
               CAST(COUNT(*) AS BIGINT) AS common_parts
        FROM bip a JOIN bip b ON a.part = b.part AND a.cust < b.cust
        GROUP BY a.cust, b.cust
        HAVING COUNT(*) >= 3
    ), scored AS (
        SELECT cust_a, cust_b, common_parts,
               CAST(FLOOR(common_parts * 10000.0
                          / (da.d + db.d - common_parts)) AS BIGINT)
                   AS jaccard_e4
        FROM pairs
        JOIN deg da ON da.cust = pairs.cust_a
        JOIN deg db ON db.cust = pairs.cust_b
    )
    SELECT cust_a, cust_b, common_parts, jaccard_e4
    FROM scored
    ORDER BY jaccard_e4 DESC, cust_a, cust_b
    LIMIT 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over the
    customer–part co-purchase bipartite graph (round 5): customers are
    similar when their purchased-part sets overlap. The classic
    neighborhood-similarity program — and the classic scale trap done
    right: pairs are generated ONLY within a shared part (equi-join on
    the part key, never customer×customer), so work is Σ_part d_p²,
    not |customers|². At 100 TB the remaining hazard is hub parts (a part
    bought by 10⁶ customers); the production guard is the same
    count-certified cap dedup_near applies to LSH buckets — measure
    part degrees first, drop/sample parts past the cap, a part that
    popular carries no similarity signal anyway (df-style damping).

    Degrees join back by customer key (two broadcast-sized joins at
    this output bound); Jaccard enters the double domain exactly once,
    over exact bigint counts, identically in both engines. Top-20 with
    a full-order tiebreak is a TakeOrderedAndProject, not a sort."""
    # Round-15 (guide §2.4): bip feeds deg AND both self-join sides —
    # checkpoint it so the join+distinct build runs once, not thrice
    bip = _copurchase_bipartite(spark, sf_dir).localCheckpoint()
    deg = bip.groupBy("cust").agg(F.count("*").cast("bigint").alias("d"))
    pairs = _copurchase_pairs(bip)
    da = deg.select(F.col("cust").alias("cust_a"), F.col("d").alias("da"))
    db = deg.select(F.col("cust").alias("cust_b"), F.col("d").alias("db"))
    scored = (
        pairs.join(F.broadcast(da), "cust_a")
        .join(F.broadcast(db), "cust_b")
        .select(
            "cust_a",
            "cust_b",
            "common_parts",
            F.floor(
                F.col("common_parts")
                * 10000.0
                / (F.col("da") + F.col("db") - F.col("common_parts"))
            )
            .cast("bigint")
            .alias("jaccard_e4"),
        )
    )
    return scored.orderBy(
        F.col("jaccard_e4").desc(), "cust_a", "cust_b"
    ).limit(20)


@query(
    "graph_bfs_layers",
    f"""
    WITH RECURSIVE {_DUCK_EDGES}, sym AS (
        SELECT src, dst FROM edges
        UNION
        SELECT dst AS src, src AS dst FROM edges
    ), seed AS (
        SELECT MIN(src) AS a FROM sym
    ), walk(addr, d) AS (
        SELECT a, 0 FROM seed
        UNION
        SELECT s.dst, w.d + 1
        FROM walk w JOIN sym s ON s.src = w.addr
        WHERE w.d < 10
    )
    SELECT addr, CAST(MIN(d) AS BIGINT) AS dist
    FROM walk GROUP BY addr
    """,
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BFS hop distances from a deterministic seed (round
    5): the lexicographically-smallest address, expanded frontier by
    frontier over the symmetrized co-occurrence graph, 10-round bound
    — the reachability-with-DISTANCE readout components can't give
    (taint tracing / mixing-depth analysis asks "how many hops from
    the seed", not just "same component").

    The loop is the distributed-BFS shape: each round joins only the
    FRONTIER (not all visited nodes) against the edge list, anti-joins
    out already-labelled nodes, and stops early on an empty frontier —
    per-round work is O(frontier × avg-degree), the bound is explicit,
    and the only state read back is the 1-row seed and the frontier size,
    both observed on checkpoints that run anyway (the ``iterate``
    primitive).  The edge list is cached once and every round reuses
    that layout."""
    # The co-occurrence build is checkpointed ONCE (un-checkpointed,
    # the union below ran the whole parse+explode+self-join twice), with
    # the seed — the smallest address, min(src) because e has
    # src < dst — observed on that same job.  sym needs no distinct: e
    # is distinct with src < dst, so the swapped branch is disjoint
    # from the first.  The state is every labelled node, ``new`` on
    # the last frontier; a round appends the unlabelled neighbors of
    # that frontier, and an empty frontier ends the loop.
    e, stats = checkpoint(
        cooccurrence_edges(spark), rows=F.count(F.lit(1)), seed=F.min("src")
    )
    sym = e.select("src", "dst").unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    start = spark.createDataFrame(
        [(stats["seed"], 0, True)], "addr string, dist int, new boolean"
    )

    def step(dist, adj, prev, depth):
        nxt = (
            adj.join(dist.filter("new").select("addr"), "addr")
            .select(F.col("dst").alias("addr"))
            .distinct()
            .join(dist.select("addr"), "addr", "left_anti")
        )
        return dist.select("addr", "dist", F.lit(False).alias("new")).unionAll(
            nxt.select("addr", F.lit(depth).alias("dist"), F.lit(True))
        )

    run = iterate(
        start,
        step,
        10,
        scalars={"frontier": F.count_if(F.col("new"))},
        until=lambda seen: seen["frontier"] == 0,
        adjacency=sym,
        key="src",
        to="dst",
        rows=2 * stats["rows"],
    )
    return run.state.select("addr", F.col("dist").cast("bigint").alias("dist"))


@query(
    "graph_clustering_coeff",
    f"""
    WITH {_DUCK_EDGES},
    sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY 1
    ), tri AS (
        SELECT s1.src AS node, CAST(COUNT(*) AS BIGINT) AS t
        FROM sym s1
        JOIN sym s2 ON s2.src = s1.src AND s1.dst < s2.dst
        WHERE EXISTS (SELECT 1 FROM edges e
                      WHERE e.src = s1.dst AND e.dst = s2.dst)
        GROUP BY 1
    )
    SELECT deg.node, deg.d AS degree,
           CAST(COALESCE(tri.t, 0) AS BIGINT) AS n_closed,
           CAST(CASE WHEN deg.d >= 2 THEN
                    FLOOR(CAST(2 * COALESCE(tri.t, 0) AS DOUBLE) * 10000
                          / (CAST(deg.d AS DOUBLE) * (deg.d - 1)))
                ELSE 0 END AS BIGINT) AS cc_e4
    FROM deg LEFT JOIN tri ON tri.node = deg.node
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node (round 5 batch 7): the
    fraction of each address's neighbor PAIRS that are themselves
    connected — cc(v) = 2·T(v)/(d(v)·(d(v)−1)). High-cc nodes sit in
    tight co-spend cliques (the address-clustering signal GraphSense's
    entity heuristics feed on); graph_triangle_count gives the global
    total, this localizes WHERE the closure is.

    The wedge program reuses graph_triangle_count's orientation
    discipline: neighbor pairs enumerate from the symmetrized edge
    list with a<b canonicalization, and the closing check is a
    LEFT-SEMI against the ORIENTED edge list, so each closed wedge at
    v counts exactly once. The one double division per node is floored
    e4; degrees and triangle counts stay bigint.

    Scale: wedge fan-out is Σ d(v)² — the degree-orientation
    refinement (pivot on the lower-degree endpoint) bounds it by
    arboricity and slots in as one join against deg, same note as the
    global count; the semi-join shuffles on the (a,b) pair key."""
    e = cooccurrence_edges(spark)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    s1 = sym.alias("s1")
    s2 = sym.alias("s2")
    wedges = s1.join(
        s2,
        (F.col("s2.src") == F.col("s1.src"))
        & (F.col("s1.dst") < F.col("s2.dst")),
    ).select(
        F.col("s1.src").alias("node"),
        F.col("s1.dst").alias("a"),
        F.col("s2.dst").alias("b"),
    )
    closed = wedges.join(
        e.alias("e"),
        (F.col("e.src") == F.col("a")) & (F.col("e.dst") == F.col("b")),
        "left_semi",
    )
    tri = closed.groupBy("node").agg(F.count("*").cast("bigint").alias("t"))
    j = deg.join(tri, "node", "left")
    t = F.coalesce(F.col("t"), F.lit(0)).cast("bigint")
    return j.select(
        "node",
        F.col("d").alias("degree"),
        t.alias("n_closed"),
        F.when(
            F.col("d") >= 2,
            F.floor(
                (2 * t).cast("double")
                * 10000
                / (F.col("d").cast("double") * (F.col("d") - 1))
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("cc_e4"),
    )


def _duck_kcore_rounds(k: int, rounds: int) -> str:
    """Unrolled peel rounds as chained CTEs (sym0 → symN)."""
    return unrolled_cte(
        """sym0 AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges
        )""",
        lambda r: f""", live{r - 1} AS (
                SELECT src AS node FROM sym{r - 1}
                GROUP BY 1 HAVING COUNT(*) >= {k}
            ), sym{r} AS (
                SELECT s.src, s.dst FROM sym{r - 1} s
                JOIN live{r - 1} a ON s.src = a.node
                JOIN live{r - 1} b ON s.dst = b.node
            )""",
        rounds,
        "",
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


@query(
    "graph_kcore_peel",
    f"""
    WITH {_DUCK_EDGES},
    {_duck_kcore_rounds(_KCORE_K, _KCORE_ROUNDS)}
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM sym{_KCORE_ROUNDS} GROUP BY 1
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (round 5 batch 7),
    k=3: repeatedly delete nodes with degree < k until the remainder —
    the maximal subgraph where everyone keeps ≥k neighbors — is all
    that's left. The k-core is the standard "dense backbone" extract
    (spam/bot rings, co-spend cores, community seeds) and the
    degeneracy-ordering primitive faster triangle algorithms build on.

    Peeling is a NON-MONOTONE fixpoint (deletions cascade), which no
    single window or recursive-union CTE expresses — so both engines
    run the SAME FIXED 4-round unroll (the fixture graph converges in
    3; the referee test asserts a 5th round changes nothing, i.e. the
    unroll HAS reached the true 3-core). Each round is degree-count →
    HAVING filter → two semi-shaped joins back onto the edge list;
    parity is exact because the program, not a convergence probe,
    determines the output.

    Rounds (the ``iterate`` primitive): the edge list is cached once
    and the state is the LIVE NODE set — the peeled edge list after
    round r is exactly the edges with both endpoints live after round
    r (live sets only shrink), so round r counts those edges per src
    and keeps the nodes with ≥k.  On small graphs the live set is
    broadcast once per round (both endpoint tests reuse it) to edges
    partitioned by src: two jobs per round, against five or six with
    the edge list as the state.  Paired rounds and a sort-based window
    peel measured no faster."""
    e, stats = checkpoint(cooccurrence_edges(spark), rows=F.count(F.lit(1)))
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def live_edges(edges, live, small):
        """Edges of ``edges`` with both endpoints in ``live``."""
        side = F.broadcast if small else (lambda df: df)
        return edges.join(
            side(live.alias("a")), F.col("src") == F.col("a.node"), "left_semi"
        ).join(side(live.alias("b")), F.col("dst") == F.col("b.node"), "left_semi")

    def peel(live, adj, prev, r):
        # round 1: every node is live, so every edge counts
        edges = adj.frame if r == 1 else live_edges(adj.frame, live, adj.broadcast)
        return (
            edges.groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= _KCORE_K)
            .select("node")
        )

    run = iterate(
        e, peel, _KCORE_ROUNDS, adjacency=sym, key="dst", to="src",
        rows=2 * stats["rows"],
    )
    return (
        live_edges(sym, run.state, False)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("bigint").alias("core_degree"))
    )


@query(
    "graph_assortativity",
    f"""
    WITH {_DUCK_EDGES},
    sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY 1
    ), pairs AS (
        SELECT da.d AS x, db.d AS y
        FROM sym s
        JOIN deg da ON da.node = s.src
        JOIN deg db ON db.node = s.dst
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           CAST(FLOOR(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               * 1000000) AS BIGINT) AS assortativity_e6
    FROM stats
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the address graph (round 5 batch 9):
    Pearson correlation of endpoint degrees over every edge — ONE
    number for "do hubs connect to hubs?" (positive: social-style
    core; negative: hub-and-spoke, the typical exchange-address
    topology). The structural summary that decides whether hub-targeted
    sampling or uniform sampling is the right corpus reduction.

    agg_corr_exact's discipline on graph data: both endpoint degree
    lists come from the symmetrized edge list (each undirected edge
    contributes both orientations, which is exactly the standard
    definition's summation), the five sufficient statistics are exact
    bigint sums — degrees are bounded by max-degree so Σd² stays far
    under bigint — and the formula runs ONCE in IEEE64.

    Scale: degree table = one groupBy; the two joins hash on node id
    (broadcast at dimension-sized degree tables); the stats agg is
    map-side combinable. Nothing touches pairs²."""
    e = cooccurrence_edges(spark)
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    pairs = sym.join(da, "src").join(db, "dst")
    stats = pairs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    return stats.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.floor(num / den * 1000000).cast("bigint").alias("assortativity_e6"),
    )


@query(
    "graph_2hop_reach",
    f"""
    WITH {_DUCK_EDGES},
    sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), two_hop AS (
        SELECT DISTINCT a.src AS node, b.dst AS reached
        FROM sym a JOIN sym b ON a.dst = b.src
        WHERE b.dst <> a.src
    ), direct AS (
        SELECT src AS node, dst AS reached FROM sym
    )
    SELECT t.node,
           CAST(COUNT(*) AS BIGINT) AS n_2hop,
           CAST(COUNT(*) FILTER (d.reached IS NULL) AS BIGINT)
               AS n_new_at_2
    FROM two_hop t
    LEFT JOIN direct d ON d.node = t.node AND d.reached = t.reached
    GROUP BY t.node
    """,
)
def graph_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach per node (round 5 batch 15): how many distinct
    addresses are within two hops, and how many of those are NEW at
    distance exactly 2 (not already direct neighbors) — the
    friend-of-friend expansion factor behind contagion/taint analysis
    ("how far does exposure spread in one more step?") and the
    branching estimate graph_bfs_layers' global frontier sizes don't
    give per node.

    One wedge join on the symmetrized list (self excluded), distinct
    on the (node, reached) pair, then an anti-style LEFT join against
    direct neighbors to split new-at-2 from already-adjacent. All
    equi-joins on node ids.

    Scale: the wedge join is Σ d(v)² — the hub hazard shared with
    triangle counting, bounded by the same degree-orientation
    refinement; the distinct is the only pair-scale shuffle, and at
    100 TB the 2-hop set is computed per BFS frontier batch rather
    than all nodes at once (graph_bfs_layers' machinery)."""
    e = cooccurrence_edges(spark)
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    a = sym.alias("a")
    b = sym.alias("b")
    two_hop = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .filter(F.col("b.dst") != F.col("a.src"))
        .select(
            F.col("a.src").alias("node"), F.col("b.dst").alias("reached")
        )
        .distinct()
    )
    direct = sym.select(
        F.col("src").alias("node"),
        F.col("dst").alias("reached"),
        F.lit(1).alias("is_direct"),
    )
    j = two_hop.join(direct, ["node", "reached"], "left")
    return j.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_2hop"),
        F.count_if(F.col("is_direct").isNull())
        .cast("bigint")
        .alias("n_new_at_2"),
    )


@query(
    "graph_adamic_adar",
    """
    WITH bip AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), w AS (
        SELECT part,
               CAST(FLOOR(1000000000.0 / ln(CAST(COUNT(*) AS DOUBLE)))
                    AS BIGINT) AS wp
        FROM bip GROUP BY part HAVING COUNT(*) >= 2
    ), pairs AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b, w.wp
        FROM bip a
        JOIN bip b ON a.part = b.part AND a.cust < b.cust
        JOIN w ON w.part = a.part
    )
    SELECT cust_a, cust_b,
           CAST(COUNT(*) AS BIGINT) AS common_parts,
           CAST(SUM(wp) AS BIGINT) AS aa_e9
    FROM pairs GROUP BY cust_a, cust_b
    HAVING COUNT(*) >= 3
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the co-purchase bipartite
    graph (round 6): graph_common_neighbors' raw overlap, re-weighted
    so RARE shared parts count more — a shared part bought by 3
    customers is strong evidence of similarity, one bought by 3000 is
    noise; AA(a,b) = Σ_shared 1/ln(degree(p)) is the standard damping.

    The float hazard is the Σ: doubles summed in shuffle order differ
    between engines by ulps.  The house floored-once discipline kills
    it: each part's weight floor(1e9/ln(d_p)) is computed ONCE per
    part (one double expression, identical both engines), and the
    per-pair score is then an EXACT bigint sum — order-free, merge-
    safe, incrementally maintainable.  Degree-1 parts produce no pairs
    and are excluded before the log (ln 1 = 0 guard).

    Scale: same Σ_p d_p² pair generation as common_neighbors — pairs
    only within a shared part, never cust×cust; hub parts fall under
    the same count-certified cap discipline (df-damping makes their
    weight ≈0 anyway, which is the POINT of Adamic–Adar)."""
    # Round-15 (guide §2.4): bip feeds the df-weight agg AND both
    # self-join sides — checkpoint it so the build runs once
    bip = _copurchase_bipartite(spark, sf_dir).localCheckpoint()
    w = (
        bip.groupBy("part")
        .agg(F.count("*").cast("bigint").alias("dp"))
        .filter(F.col("dp") >= 2)
        .select(
            "part",
            F.floor(1000000000.0 / F.log(F.col("dp").cast("double")))
            .cast("bigint")
            .alias("wp"),
        )
    )
    # the within-part pairs of _copurchase_pairs (same hash-build
    # hint), kept per part here: the score weights each shared part
    a = bip.alias("a")
    b = bip.hint("SHUFFLE_HASH").alias("b")
    w2 = w.select(F.col("part").alias("w_part"), "wp")
    pairs = a.join(
        b,
        (F.col("a.part") == F.col("b.part"))
        & (F.col("a.cust") < F.col("b.cust")),
    ).join(w2, F.col("a.part") == F.col("w_part"))
    return (
        pairs.groupBy(
            F.col("a.cust").alias("cust_a"), F.col("b.cust").alias("cust_b")
        )
        .agg(
            F.count("*").cast("bigint").alias("common_parts"),
            F.sum("wp").cast("bigint").alias("aa_e9"),
        )
        .filter(F.col("common_parts") >= 3)
    )


@query(
    "graph_preferential_attachment",
    """
    WITH bip AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), deg AS (
        SELECT cust, CAST(COUNT(*) AS BIGINT) AS d FROM bip GROUP BY cust
    ), pairs AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b,
               CAST(COUNT(*) AS BIGINT) AS common_parts
        FROM bip a JOIN bip b ON a.part = b.part AND a.cust < b.cust
        GROUP BY a.cust, b.cust
        HAVING COUNT(*) >= 3
    )
    SELECT cust_a, cust_b, common_parts,
           CAST(da.d * db.d AS BIGINT) AS pa_score
    FROM pairs
    JOIN deg da ON da.cust = pairs.cust_a
    JOIN deg db ON db.cust = pairs.cust_b
    """,
)
def graph_preferential_attachment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preferential-attachment link score (round 6) — the third leg of
    the classical link-prediction triple this engine now carries
    (Jaccard: graph_common_neighbors; rarity-damped: graph_adamic_adar;
    activity-product: this).  PA(a,b) = deg(a)·deg(b) predicts links
    between ACTIVE nodes regardless of current overlap — the
    rich-get-richer baseline every LP benchmark reports, and the
    cheapest of the three (no per-neighbor weighting at all).

    Candidate pairs reuse the bounded within-part generation (Σ d²,
    never cust²) with the same ≥3-common-parts support floor, so the
    three scores are computed over the SAME candidate set and are
    directly comparable downstream.  Degrees join back broadcast-sized;
    the score is one exact bigint product — no float anywhere.

    Scale: identical to graph_common_neighbors; the degree table is
    |customers| rows and joins by key at the candidate-set bound."""
    # Round-15 (guide §2.4): bip feeds deg AND both self-join sides —
    # checkpoint it so the build runs once, not thrice
    bip = _copurchase_bipartite(spark, sf_dir).localCheckpoint()
    deg = bip.groupBy("cust").agg(F.count("*").cast("bigint").alias("d"))
    pairs = _copurchase_pairs(bip)
    da = deg.select(F.col("cust").alias("cust_a"), F.col("d").alias("da"))
    db = deg.select(F.col("cust").alias("cust_b"), F.col("d").alias("db"))
    return (
        pairs.join(F.broadcast(da), "cust_a")
        .join(F.broadcast(db), "cust_b")
        .select(
            "cust_a",
            "cust_b",
            "common_parts",
            (F.col("da") * F.col("db")).cast("bigint").alias("pa_score"),
        )
    )


@query(
    "graph_modularity_segments",
    """
    WITH bip AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), edges AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b
        FROM bip a JOIN bip b ON a.part = b.part AND a.cust < b.cust
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ), seg AS (
        SELECT c_custkey, c_mktsegment FROM customer
    ), labeled AS (
        SELECT e.cust_a, e.cust_b,
               sa.c_mktsegment AS seg_a, sb.c_mktsegment AS seg_b
        FROM edges e
        JOIN seg sa ON sa.c_custkey = e.cust_a
        JOIN seg sb ON sb.c_custkey = e.cust_b
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM labeled
    ), deg AS (
        SELECT seg, CAST(SUM(d) AS BIGINT) AS d_seg FROM (
            SELECT seg_a AS seg, CAST(COUNT(*) AS BIGINT) AS d
            FROM labeled GROUP BY seg_a
            UNION ALL
            SELECT seg_b, CAST(COUNT(*) AS BIGINT) FROM labeled GROUP BY seg_b
        ) GROUP BY seg
    ), within AS (
        SELECT seg_a AS seg, CAST(COUNT(*) AS BIGINT) AS e_in
        FROM labeled WHERE seg_a = seg_b GROUP BY seg_a
    )
    SELECT d.seg AS segment, m.n_edges,
           COALESCE(w.e_in, 0) AS e_within, d.d_seg,
           CAST(FLOOR((CAST(COALESCE(w.e_in, 0) AS DOUBLE) / m.n_edges
                       - (CAST(d.d_seg AS DOUBLE) / (2 * m.n_edges))
                         * (CAST(d.d_seg AS DOUBLE) / (2 * m.n_edges)))
                      * 1000000) AS BIGINT) AS q_contrib_e6
    FROM deg d
    LEFT JOIN within w ON w.seg = d.seg
    CROSS JOIN m
    """,
)
def graph_modularity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of a given partition (round 6): does the
    market-segment labeling correspond to actual community structure
    in the co-purchase graph?  Per segment c the modularity
    contribution e_c/m − (d_c/2m)² — summing them gives Q, and a
    segment whose contribution ≈ 0 buys nothing over random wiring.
    This evaluates an EXTERNALLY-given partition (labels, tenants,
    segments) without running community detection — the audit that
    decides whether label-propagation output (or a business taxonomy)
    is worth partitioning storage by.

    e_c (within-segment edges), d_c (degree sums), and m are exact
    bigint counts over the same support-thresholded edge set as the
    link-prediction family; each contribution is one double chain
    floored e6 (summable downstream: floored-once discipline).

    Scale: edges from the bounded within-part generation; degree and
    within-edge tables are |segments| rows; the label join is
    broadcast-sized (customer dim)."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    edges = _copurchase_pairs(_copurchase_bipartite(spark, sf_dir)).select(
        "cust_a", "cust_b"
    )
    sa = c.select(
        F.col("c_custkey").alias("cust_a"), F.col("c_mktsegment").alias("seg_a")
    )
    sb = c.select(
        F.col("c_custkey").alias("cust_b"), F.col("c_mktsegment").alias("seg_b")
    )
    # Round-15 (guide §2.4): the labeled edge list is consumed FOUR
    # ways (m, both halves of deg, within) and Catalyst does not reuse
    # the within-part self-join across them — checkpointing the small
    # pair list runs the expensive generation once.
    labeled = edges.join(F.broadcast(sa), "cust_a").join(
        F.broadcast(sb), "cust_b"
    ).localCheckpoint()
    m = labeled.agg(F.count("*").cast("bigint").alias("n_edges"))
    deg = (
        labeled.select(F.col("seg_a").alias("seg"))
        .unionAll(labeled.select(F.col("seg_b").alias("seg")))
        .groupBy("seg")
        .agg(F.count("*").cast("bigint").alias("d_seg"))
    )
    within = (
        labeled.filter(F.col("seg_a") == F.col("seg_b"))
        .groupBy(F.col("seg_a").alias("w_seg"))
        .agg(F.count("*").cast("bigint").alias("e_in"))
    )
    joined = (
        deg.join(within, deg.seg == F.col("w_seg"), "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("seg").alias("segment"),
            "n_edges",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("bigint").alias(
                "e_within"
            ),
            "d_seg",
        )
    )
    frac = F.col("d_seg").cast("double") / (2 * F.col("n_edges"))
    q = F.floor(
        (F.col("e_within").cast("double") / F.col("n_edges") - frac * frac)
        * 1000000
    ).cast("bigint")
    return joined.select(
        "segment", "n_edges", "e_within", "d_seg", q.alias("q_contrib_e6")
    )


@query(
    "graph_jaccard_similarity",
    """
    WITH bip AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), deg AS (
        SELECT cust, CAST(COUNT(*) AS BIGINT) AS d FROM bip GROUP BY cust
    ), pairs AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b,
               CAST(COUNT(*) AS BIGINT) AS common_parts
        FROM bip a JOIN bip b ON a.part = b.part AND a.cust < b.cust
        GROUP BY a.cust, b.cust HAVING COUNT(*) >= 3
    )
    SELECT p.cust_a, p.cust_b, p.common_parts,
           CAST(da.d + db.d - p.common_parts AS BIGINT) AS union_parts,
           CAST(FLOOR(CAST(p.common_parts AS DOUBLE) * 1000000
                      / (da.d + db.d - p.common_parts)) AS BIGINT)
               AS jaccard_e6
    FROM pairs p
    JOIN deg da ON da.cust = p.cust_a
    JOIN deg db ON db.cust = p.cust_b
    """,
)
def graph_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity (round 7) — completes the
    link-prediction trio: graph_common_neighbors counts the overlap,
    graph_adamic_adar df-damps it, Jaccard NORMALIZES it by the union
    so high-degree customers don't dominate: J = |∩| / (dₐ+d_b−|∩|).

    Exactness: |∩| comes from the shared-part pair aggregation and
    |∪| from the inclusion–exclusion identity on exact bigint degrees
    — ONE floored double division at the end (floored-once
    discipline), so the score hash-matches across engines.

    Scale: identical Σ_p d_p² pair generation as the siblings (pairs
    only within a shared part, never cust×cust); the two degree joins
    are broadcast-sized (|customers| rows of two bigints)."""
    # Round-15 (guide §2.4): bip feeds deg AND both self-join sides —
    # checkpoint it so the build runs once, not thrice
    bip = _copurchase_bipartite(spark, sf_dir).localCheckpoint()
    deg = bip.groupBy("cust").agg(F.count("*").cast("bigint").alias("d"))
    pairs = _copurchase_pairs(bip)
    da = deg.select(F.col("cust").alias("cust_a"), F.col("d").alias("da"))
    db = deg.select(F.col("cust").alias("cust_b"), F.col("d").alias("db"))
    joined = pairs.join(F.broadcast(da), "cust_a").join(
        F.broadcast(db), "cust_b"
    )
    union_parts = F.col("da") + F.col("db") - F.col("common_parts")
    return joined.select(
        "cust_a",
        "cust_b",
        "common_parts",
        union_parts.cast("bigint").alias("union_parts"),
        F.floor(
            F.col("common_parts").cast("double") * 1000000 / union_parts
        )
        .cast("bigint")
        .alias("jaccard_e6"),
    )


@query(
    "graph_degree_gini",
    """
    WITH bip AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), deg AS (
        SELECT cust, CAST(COUNT(*) AS BIGINT) AS d FROM bip GROUP BY cust
    ), ranked AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d, cust) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(d) OVER () AS BIGINT) AS total
        FROM deg
    )
    SELECT MAX(n) AS n_nodes, MAX(total) AS total_degree,
           CAST(FLOOR((2.0 * CAST(CAST(SUM(rn * d) AS BIGINT) AS DOUBLE)
                       / (MAX(n) * MAX(total))
                       - (CAST(MAX(n) AS DOUBLE) + 1) / MAX(n))
                      * 1000000) AS BIGINT) AS gini_e6
    FROM ranked
    """,
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of the degree distribution (round 7) — the
    hub-dominance number: 0 = every customer touches equally many
    parts, →1 = a few hubs own the graph.  The skew diagnostic that
    decides whether the within-key pair generation (common_neighbors
    family) needs the hub-cap discipline, measured on the graph
    itself; agg_gini_concentration is the same statistic on value
    flows.

    Exactness: the rank-weighted Gini formula G = 2·Σ(rᵢ·dᵢ)/(n·Σd)
    − (n+1)/n over degrees ranked ascending (cust tiebreak); Σ(r·d)
    is an exact bigint sum, ONE double chain at the end.

    Scale: the ordered pass runs over the DEGREE TABLE (|customers|
    rows, pre-reduced — the audit-benign shape), not edges; degree
    counts are one keyed aggregation."""
    deg = (
        _copurchase_bipartite(spark, sf_dir)
        .groupBy("cust")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    w = Window.orderBy("d", "cust")
    wall = Window.partitionBy()
    ranked = deg.select(
        "d",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("d").over(wall).cast("bigint").alias("total"),
    )
    # Σ(r·d) accumulates as BIGINT in both engines (cast to double only
    # once at the end): a double accumulator is exact only below 2^53
    # and becomes addition-order-dependent beyond, silently breaking
    # cross-engine parity at the scale this operator targets.
    agg = ranked.agg(
        F.max("n").alias("n_nodes"),
        F.max("total").alias("total_degree"),
        F.sum(F.col("rn").cast("bigint") * F.col("d")).cast("bigint").alias("rd"),
    )
    gini = (
        2.0 * F.col("rd").cast("double")
        / (F.col("n_nodes") * F.col("total_degree"))
        - (F.col("n_nodes").cast("double") + 1) / F.col("n_nodes")
    )
    return agg.select(
        "n_nodes",
        "total_degree",
        F.floor(gini * 1000000).cast("bigint").alias("gini_e6"),
    )


@query(
    "graph_katz_bounded",
    """
    WITH bip AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), pairs AS (
        SELECT a.cust AS src, b.cust AS dst
        FROM bip a JOIN bip b ON a.part = b.part AND a.cust < b.cust
        GROUP BY a.cust, b.cust HAVING COUNT(*) >= 3
    ), edges AS (
        SELECT src, dst FROM pairs
        UNION ALL
        SELECT dst AS src, src AS dst FROM pairs
    ), w1 AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS walks
        FROM edges GROUP BY src
    ), w2 AS (
        SELECT e.src AS node, CAST(SUM(w.walks) AS BIGINT) AS walks
        FROM edges e JOIN w1 w ON w.node = e.dst GROUP BY e.src
    ), w3 AS (
        SELECT e.src AS node, CAST(SUM(w.walks) AS BIGINT) AS walks
        FROM edges e JOIN w2 w ON w.node = e.dst GROUP BY e.src
    )
    SELECT w1.node AS cust, w1.walks AS walks1,
           COALESCE(w2.walks, 0) AS walks2,
           COALESCE(w3.walks, 0) AS walks3,
           CAST(w1.walks * 500000 + COALESCE(w2.walks, 0) * 250000
                + COALESCE(w3.walks, 0) * 125000 AS BIGINT) AS katz_e6
    FROM w1
    LEFT JOIN w2 ON w2.node = w1.node
    LEFT JOIN w3 ON w3.node = w1.node
    """,
)
def graph_katz_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality over the co-purchase graph (round 7)
    — the walk-weighted influence score between degree centrality
    (k=1 only) and PageRank (infinite-walk fixpoint, float-iterative
    ✖): Katz₃ = Σ_{k≤3} βᵏ·walks_k with β = ½, so every weight is an
    EXACT half-integer e6 (500000/250000/125000) and the whole score
    stays in bigint arithmetic — the one member of the
    spectral-centrality family that admits an exact relational
    oracle.

    Walk counts come from MESSAGE PASSING, never path enumeration:
    walks_{k+1}(a) = Σ_{b∈N(a)} walks_k(b) — each hop is ONE
    edges⋈counts join + keyed aggregate, so cost is O(|edges|) per
    hop regardless of walk multiplicity (the label-propagation shape
    with a sum instead of a min).

    Scale: the same Σd² pair generation as the link-prediction trio
    feeds a two-hop message pass; at 100 TB each hop is one keyed
    exchange on the node id."""
    pairs = (
        _copurchase_pairs(_copurchase_bipartite(spark, sf_dir))
        .select(F.col("cust_a").alias("src"), F.col("cust_b").alias("dst"))
        # Round-15 (guide §2.4): pairs feeds both halves of the
        # symmetrized edge list, which the 3-hop message pass then
        # consumes repeatedly — checkpoint the small pair list once
        .localCheckpoint()
    )
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w1 = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("walks")
    )

    def hop(w):
        return (
            edges.join(
                w.select(F.col("node").alias("dst"), "walks"), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("walks").cast("bigint").alias("walks"))
        )

    w2 = hop(w1)
    w3 = hop(w2)
    j = (
        w1.select(F.col("node"), F.col("walks").alias("walks1"))
        .join(
            w2.select(F.col("node"), F.col("walks").alias("walks2")),
            "node",
            "left",
        )
        .join(
            w3.select(F.col("node"), F.col("walks").alias("walks3")),
            "node",
            "left",
        )
    )
    wk2 = F.coalesce(F.col("walks2"), F.lit(0))
    wk3 = F.coalesce(F.col("walks3"), F.lit(0))
    return j.select(
        F.col("node").alias("cust"),
        F.col("walks1"),
        wk2.cast("bigint").alias("walks2"),
        wk3.cast("bigint").alias("walks3"),
        (F.col("walks1") * 500000 + wk2 * 250000 + wk3 * 125000)
        .cast("bigint")
        .alias("katz_e6"),
    )


_HITS_SCALE = 10**12
_HITS_ITERS = 4


def _hits_oracle_sql(iters: int = _HITS_ITERS) -> str:
    """Exact DuckDB oracle for quantized HITS: the iterations unroll
    into chained MATERIALIZED CTEs (``unrolled_cte``). Raw
    hub/authority sums are exact bigints; each normalization is ONE
    double chain floor(raw·S/Σ) — IEEE-identical on both engines — so
    every iteration reproduces bit-for-bit."""
    s = _HITS_SCALE
    head = f"""
    WITH bip AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), parts AS MATERIALIZED (SELECT DISTINCT part FROM bip
    ), np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM parts
    ), a0 AS MATERIALIZED (
        SELECT part, CAST({s} // (SELECT n FROM np) AS BIGINT) AS a
        FROM parts
    )"""
    return unrolled_cte(
        head,
        lambda i: f""", hraw{i} AS MATERIALIZED (
        SELECT b.cust, CAST(SUM(a.a) AS BIGINT) AS hr
        FROM bip b JOIN a{i - 1} a USING (part) GROUP BY b.cust
    ), hs{i} AS (SELECT CAST(SUM(hr) AS BIGINT) AS t FROM hraw{i}
    ), h{i} AS MATERIALIZED (
        SELECT cust,
               CAST(FLOOR(CAST(hr AS DOUBLE) * {s}.0
                          / CAST((SELECT t FROM hs{i}) AS DOUBLE))
                    AS BIGINT) AS h
        FROM hraw{i}
    ), araw{i} AS MATERIALIZED (
        SELECT b.part, CAST(SUM(h.h) AS BIGINT) AS ar
        FROM bip b JOIN h{i} h USING (cust) GROUP BY b.part
    ), asum{i} AS (SELECT CAST(SUM(ar) AS BIGINT) AS t FROM araw{i}
    ), a{i} AS MATERIALIZED (
        SELECT part,
               CAST(FLOOR(CAST(ar AS DOUBLE) * {s}.0
                          / CAST((SELECT t FROM asum{i}) AS DOUBLE))
                    AS BIGINT) AS a
        FROM araw{i}
    )""",
        iters,
        f"""
    SELECT part AS l_partkey, a AS authority_e12
    FROM a{iters} ORDER BY a DESC, part LIMIT 20""",
    )


def _l1_normalized(raw, key: str, total: int):
    """floor(raw·S/Σ) per row: one double chain, IEEE-identical on
    both engines (Σ < 2^53, so double(Σ) is exact)."""
    return raw.select(
        key,
        F.floor(F.col("raw").cast("double") * float(_HITS_SCALE) / float(total))
        .cast("bigint")
        .alias("w"),
    )


@query("graph_hits_bounded", _hits_oracle_sql())
def graph_hits_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (round 9), {_HITS_ITERS} rounds over
    the customer-part co-purchase bipartite graph — the third
    iterative graph workload next to graph_components (propagation)
    and graph_pagerank (power iteration with damping): hubs
    (customers whose baskets point at important parts) and
    authorities (parts bought by important hubs) reinforce mutually,
    h = A·a, a = Aᵀ·h with L1 normalization per round. Top-20
    authorities = the structurally-central catalog items, a different
    (and for merchandising, better) notion than raw sales rank:
    breadth-of-important-demand, not volume.

    Determinism: raw sums each round are exact bigints; the L1
    normalization floor(raw·10¹²/Σ) is ONE double chain — IEEE-754
    ops are exactly specified, so both engines produce identical
    bigints every round (the floored-once discipline, applied per
    iteration), and the unrolled-CTE oracle reproduces the result
    bit-for-bit. Quantization drift vs float HITS ≤ iters·1e-12
    relative — invisible at ranking granularity.

    Jobs (the ``iterate`` primitive): the bipartite edge list is
    cached once.  Each half-round (hub, then authority) is one join +
    one keyed aggregate whose RAW sums are checkpointed, with the L1
    total Σ observed on that same job and folded into the next
    half-round as a literal.  At sf0.01 a half-round is two jobs (hub:
    broadcast, checkpoint) or three (authority: plus the aggregate
    exchange), 28 per call against 63 with separate collects; caching
    the edge list a second time, by the other key, ran fewer jobs but
    did not win cold.  No step is quadratic in nodes or edges."""
    bip, stats = checkpoint(
        _copurchase_bipartite(spark, sf_dir), rows=F.count(F.lit(1))
    )
    parts, counted = checkpoint(
        bip.select("part").distinct(), n=F.count(F.lit(1))
    )
    a0 = parts.select(
        "part", F.lit(_HITS_SCALE // counted["n"]).cast("bigint").alias("w")
    )

    def half_round(frame, adj, prev, r):
        if r % 2:  # hubs from the authorities (a0 is already normalized)
            a = frame if r == 1 else _l1_normalized(frame, "part", prev["total"])
            by, on = adj.join(a, "part"), "cust"
        else:  # authorities from the hubs
            h = _l1_normalized(frame, "cust", prev["total"])
            by, on = adj.join(h, "cust", by="cust"), "part"
        return by.groupBy(on).agg(F.sum("w").cast("bigint").alias("raw"))

    run = iterate(
        a0,
        half_round,
        2 * _HITS_ITERS,
        scalars={"total": F.sum("raw").cast("bigint")},
        adjacency=bip,
        key="part",
        to="cust",
        rows=stats["rows"],
    )
    a = _l1_normalized(run.state, "part", run.metrics[-1]["total"])
    return (
        a.select(F.col("part").alias("l_partkey"), F.col("w").alias("authority_e12"))
        .orderBy(F.col("authority_e12").desc(), "l_partkey")
        .limit(20)
    )


_RC_THRESHOLDS = (2, 4, 8, 16)


def _rich_club_oracle_sql() -> str:
    node_counts = ", ".join(
        f"CAST(COUNT(*) FILTER (d > {k}) AS BIGINT) AS nk{k}"
        for k in _RC_THRESHOLDS
    )
    edge_counts = ", ".join(
        f"CAST(COUNT(*) FILTER (da > {k} AND db > {k}) AS BIGINT) AS ek{k}"
        for k in _RC_THRESHOLDS
    )
    branches = " UNION ALL ".join(
        f"""
        SELECT CAST({k} AS BIGINT) AS k, nk{k} AS n_nodes,
               ek{k} AS n_edges,
               CAST(CASE WHEN nk{k} < 2 THEN 0
                    ELSE FLOOR(2.0 * ek{k}
                               / (CAST(nk{k} AS DOUBLE) * (nk{k} - 1))
                               * 1000000) END AS BIGINT) AS phi_e6
        FROM wide"""
        for k in _RC_THRESHOLDS
    )
    return f"""
    WITH bip AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), edges AS (
        SELECT a.cust AS ca, b.cust AS cb
        FROM bip a JOIN bip b
          ON a.part = b.part AND a.cust < b.cust
        GROUP BY a.cust, b.cust
        HAVING COUNT(*) >= 3
    ), deg AS (
        SELECT cust, CAST(COUNT(*) AS BIGINT) AS d
        FROM (
            SELECT ca AS cust FROM edges
            UNION ALL
            SELECT cb AS cust FROM edges
        ) GROUP BY cust
    ), ed AS (
        SELECT da.d AS da, db.d AS db
        FROM edges e
        JOIN deg da ON e.ca = da.cust
        JOIN deg db ON e.cb = db.cust
    ), nw AS (
        SELECT {node_counts} FROM deg
    ), ew AS (
        SELECT {edge_counts} FROM ed
    ), wide AS (
        SELECT * FROM nw, ew
    )
    SELECT k, n_nodes, n_edges, phi_e6 FROM ({branches}) ORDER BY k
    """


@query("graph_rich_club_coefficient", _rich_club_oracle_sql())
def graph_rich_club_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RICH-CLUB coefficient φ(k) (round 9) on the co-purchase graph
    (the graph_modularity_segments edge set — customers sharing ≥3
    parts): among nodes of degree > k, φ(k) = 2·E_k / (N_k(N_k−1))
    is the realized fraction of possible hub-hub links. A rising
    φ(k) curve means the hubs form a tight oligarchy (routing/risk
    concentration — in a payments graph, the few big intermediaries
    all interlinked); flat-or-falling means hubs connect the
    periphery instead. Complements graph_assortativity (one global
    correlation) with the per-threshold structure.

    Exactness: degrees, N_k and E_k are pure integer counting over
    the deterministic thresholded edge set; φ floors once per
    threshold from three integers. No floats anywhere else.

    Scale: the candidate-pair generation is the bounded within-part
    self-join (the established graph-family shape — parts bound the
    fan-out); degree join is keyed; the four thresholds reduce to
    TWO 1-row conditional-count aggregates (one over nodes, one over
    degree-labeled edges) — no per-k passes, no windows.

    Round-15 (guide §2.4/§3.3): the edge list is localCheckpointed —
    the plan consumed the within-part self-join THREE ways (degree
    union ×2, the ed join) and the old per-k union-of-frames
    multiplied that by 4 thresholds: a 993-node plan re-running the
    self-join ~12×, measured 32.6/12.2 s isolated-noop at sf0.1.
    Checkpointing runs it ONCE (edges is the small pair list), and the
    4 thresholds now read the 1-row wide frame through a single
    ``stack`` generate instead of 4 unioned re-evaluations. Measured
    2.0/1.3 s isolated-noop; identical output, oracle green."""
    edges = (
        _copurchase_pairs(_copurchase_bipartite(spark, sf_dir))
        .select(F.col("cust_a").alias("ca"), F.col("cust_b").alias("cb"))
        .localCheckpoint()
    )
    deg = (
        edges.select(F.col("ca").alias("cust"))
        .unionAll(edges.select(F.col("cb").alias("cust")))
        .groupBy("cust")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    da = deg.select(F.col("cust").alias("ca"), F.col("d").alias("da"))
    db = deg.select(F.col("cust").alias("cb"), F.col("d").alias("db"))
    ed = edges.join(da, "ca").join(db, "cb")
    nw = deg.groupBy().agg(
        *[
            F.count_if(F.col("d") > k).cast("bigint").alias(f"nk{k}")
            for k in _RC_THRESHOLDS
        ]
    )
    ew = ed.groupBy().agg(
        *[
            F.count_if((F.col("da") > k) & (F.col("db") > k))
            .cast("bigint")
            .alias(f"ek{k}")
            for k in _RC_THRESHOLDS
        ]
    )
    wide = nw.crossJoin(F.broadcast(ew))
    # one stack generate over the 1-row wide frame — the old
    # union-of-4-selects re-evaluated the whole upstream per threshold
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), nk{k}, ek{k}" for k in _RC_THRESHOLDS
    )
    tall = wide.selectExpr(
        f"stack({len(_RC_THRESHOLDS)}, {stack_args}) AS "
        "(k, n_nodes, n_edges)"
    )
    nk, ek = F.col("n_nodes"), F.col("n_edges")
    return tall.select(
        "k",
        "n_nodes",
        "n_edges",
        F.when(nk < 2, F.lit(0))
        .otherwise(
            F.floor(2.0 * ek / (nk.cast("double") * (nk - 1)) * 1000000)
        )
        .cast("bigint")
        .alias("phi_e6"),
    ).orderBy("k")


@query(
    "graph_reciprocity",
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
        SELECT tx_hash, (o).address[1] AS dst
        FROM (SELECT tx_hash, unnest(outputs) AS o FROM txio)
    ), dedges AS (
        SELECT DISTINCT i.src, o.dst
        FROM ins i JOIN outs o USING (tx_hash)
        WHERE i.src <> o.dst
    ), mut AS (
        SELECT e.src, e.dst
        FROM dedges e JOIN dedges r ON e.src = r.dst AND e.dst = r.src
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_directed FROM dedges
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_mutual FROM mut
    )
    SELECT n_directed, n_mutual,
           CAST(n_mutual / 2 AS BIGINT) AS n_mutual_dyads,
           CAST(FLOOR(CAST(n_mutual AS DOUBLE) * 1000000 / n_directed)
                AS BIGINT) AS reciprocity_e6
    FROM tot, m
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph reciprocity on the address-FLOW graph (round 9)
    — the structural question the undirected co-occurrence family
    cannot ask: of all distinct input→output payment edges, what
    share is ever paid BACK?  High reciprocity flags ping-pong flows
    (self-churn, peeling loops, exchange hot-wallet rebalancing);
    background payment graphs sit near zero.  Uses the same directed
    edge derivation as ingest_address_graph (SURVEY §1.1) minus the
    weight columns, self-loops excluded so each mutual DYAD
    contributes exactly two mutual edges.

    Exactness: edge and mutual-edge counts are exact bigints from
    DISTINCT aggregation; reciprocity = mutual/directed floors e6
    once — no other float exists.

    Scale: the ins⋈outs build shuffles on tx_hash (bounded per-tx
    fan-out), the distinct on the edge key; the mutuality probe is an
    equi self-join on (dst,src) — one hash shuffle on node keys, no
    pair enumeration beyond existing edges.  Both final counts are
    1-row anchors; their crossJoin is the bounded 1-row×1-row
    finishing shape."""
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
        "tx_hash", F.col("o.address")[0].alias("dst")
    )
    dedges = (
        ins.join(outs, "tx_hash")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    rev = dedges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    tot = dedges.agg(F.count("*").cast("bigint").alias("n_directed"))
    mut = (
        dedges.join(rev, ["src", "dst"], "left_semi")
        .agg(F.count("*").cast("bigint").alias("n_mutual"))
    )
    return tot.crossJoin(mut).select(
        "n_directed",
        "n_mutual",
        (F.col("n_mutual") / 2).cast("bigint").alias("n_mutual_dyads"),
        F.floor(
            F.col("n_mutual").cast("double") * 1000000 / F.col("n_directed")
        )
        .cast("bigint")
        .alias("reciprocity_e6"),
    )


@query(
    "graph_edge_overlap_bridges",
    f"""
    WITH {_DUCK_EDGES.strip().lstrip()},
    sym AS (
        SELECT src AS a, dst AS b FROM edges
        UNION ALL SELECT dst, src FROM edges
    ), deg AS (
        SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a
    ), tri AS (
        SELECT e.src, e.dst, CAST(COUNT(*) AS BIGINT) AS cn
        FROM edges e
        JOIN sym s1 ON s1.a = e.src
        JOIN sym s2 ON s2.a = e.dst AND s2.b = s1.b
        GROUP BY e.src, e.dst
    )
    SELECT e.src, e.dst,
           da.d AS deg_src, db.d AS deg_dst,
           CAST(COALESCE(t.cn, 0) AS BIGINT) AS common_neighbors,
           CASE WHEN da.d + db.d - 2 - COALESCE(t.cn, 0) > 0
                THEN CAST(FLOOR(CAST(COALESCE(t.cn, 0) AS DOUBLE) * 1000000
                     / (da.d + db.d - 2 - COALESCE(t.cn, 0))) AS BIGINT)
                ELSE NULL END AS overlap_e6,
           CAST(CASE WHEN COALESCE(t.cn, 0) = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS is_local_bridge
    FROM edges e
    LEFT JOIN tri t ON t.src = e.src AND t.dst = e.dst
    JOIN deg da ON da.a = e.src
    JOIN deg db ON db.a = e.dst
    """,
)
def graph_edge_overlap_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EDGE neighborhood overlap and local-bridge census (round
    9) — the Granovetter/Onnela weak-tie audit the node-level family
    misses: for every co-occurrence edge (a,b), overlap = |N(a)∩N(b)|
    / |N(a)∪N(b)∖{a,b}|.  Overlap 0 means the edge closes NO
    triangle — a LOCAL BRIDGE, the only route between its endpoints'
    neighborhoods and the classic inter-community tie; high overlap
    means an intra-community edge.  graph_clustering_coeff aggregates
    triangles per NODE; this is the same machinery re-keyed per edge,
    which is what community-boundary detection actually consumes.

    Exactness: per-edge common-neighbor counts, degrees and the
    inclusion-exclusion union are exact bigints; overlap floors e6
    once; degree-1–degree-1 edges have an empty union and emit NULL
    (undefined, not 0 — a bare edge is trivially a bridge and the
    flag column says so).

    Scale: the wedge join costs Σ_v d(v)² like every common-neighbor
    member — the hub hazard and its degree-orientation refinement are
    documented at module head; the two degree joins broadcast
    (|nodes| rows of two ints)."""
    edges = cooccurrence_edges(spark)
    sym = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionAll(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").cast("bigint").alias("d"))
    s1 = sym.select(F.col("a").alias("s1a"), F.col("b").alias("s1b"))
    s2 = sym.select(F.col("a").alias("s2a"), F.col("b").alias("s2b"))
    tri = (
        edges.join(s1, F.col("s1a") == F.col("src"))
        .join(
            s2,
            (F.col("s2a") == F.col("dst")) & (F.col("s2b") == F.col("s1b")),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("cn"))
    )
    da = deg.select(F.col("a").alias("src"), F.col("d").alias("deg_src"))
    db = deg.select(F.col("a").alias("dst"), F.col("d").alias("deg_dst"))
    joined = (
        edges.join(tri, ["src", "dst"], "left")
        .join(F.broadcast(da), "src")
        .join(F.broadcast(db), "dst")
        .withColumn("cn", F.coalesce(F.col("cn"), F.lit(0)).cast("bigint"))
    )
    denom = F.col("deg_src") + F.col("deg_dst") - 2 - F.col("cn")
    return joined.select(
        "src",
        "dst",
        "deg_src",
        "deg_dst",
        F.col("cn").alias("common_neighbors"),
        F.when(
            denom > 0,
            F.floor(F.col("cn").cast("double") * 1000000 / denom).cast(
                "bigint"
            ),
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("overlap_e6"),
        F.when(F.col("cn") == 0, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_local_bridge"),
    )


@query(
    "graph_harmonic_bounded",
    f"""
    WITH {_DUCK_EDGES.strip()},
    sym AS (
        SELECT src AS a, dst AS b FROM edges
        UNION ALL SELECT dst, src FROM edges
    ), d1 AS (
        SELECT DISTINCT a, b FROM sym
    ), d2 AS (
        SELECT DISTINCT d1.a, s.b
        FROM d1 JOIN sym s ON s.a = d1.b
        WHERE s.b <> d1.a
          AND NOT EXISTS (SELECT 1 FROM d1 x
                          WHERE x.a = d1.a AND x.b = s.b)
    ), d3 AS (
        SELECT DISTINCT d2.a, s.b
        FROM d2 JOIN sym s ON s.a = d2.b
        WHERE s.b <> d2.a
          AND NOT EXISTS (SELECT 1 FROM d1 x
                          WHERE x.a = d2.a AND x.b = s.b)
          AND NOT EXISTS (SELECT 1 FROM d2 y
                          WHERE y.a = d2.a AND y.b = s.b)
    ), c1 AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n1 FROM d1 GROUP BY a),
    c2 AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n2 FROM d2 GROUP BY a),
    c3 AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n3 FROM d3 GROUP BY a)
    SELECT c1.a AS addr, c1.n1,
           COALESCE(c2.n2, 0) AS n2,
           COALESCE(c3.n3, 0) AS n3,
           CAST(6 * c1.n1 + 3 * COALESCE(c2.n2, 0)
                + 2 * COALESCE(c3.n3, 0) AS BIGINT) AS harmonic_x6
    FROM c1
    LEFT JOIN c2 ON c2.a = c1.a
    LEFT JOIN c3 ON c3.a = c1.a
    """,
)
def graph_harmonic_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC centrality truncated at 3 hops (round 9) — the
    closeness-family member the walk-weighted scores miss: H(v) =
    Σ_{u≠v} 1/d(v,u) over nodes within distance 3, the
    disconnected-graph-safe closeness (classic closeness is
    undefined across components; harmonic just drops the 1/∞
    terms — essential here, the co-occurrence graph IS fragmented).
    Degree counts hop 1, Katz weights WALKS (a hub counted once per
    path); harmonic counts REACHED NODES once each at their true
    distance — the "how fast can v actually touch the graph" number.

    Exactness is TOTAL: with distances capped at 3, H = n1/1 + n2/2
    + n3/3 lives in exact SIXTHS — harmonic_x6 = 6n1 + 3n2 + 2n3 is
    a pure bigint; no quantization anywhere.  Exact-distance layers
    by frontier subtraction (d2 = neighbors-of-d1 minus d1 minus
    self; d3 likewise), the graph_bfs_layers discipline run from
    every source at once.

    Scale: each hop is one edges⋈frontier equi-join + DISTINCT on
    (source, node) — O(Σ frontier·degree) per hop, the standard
    bounded-BFS cost; the 3-hop ball bound is the cap that keeps
    all-pairs tractable (uncapped closeness needs APSP — never).
    Hub-heavy graphs inflate the hop-2 frontier as Σd²; the
    module-head degree-orientation note and per-source frontier
    caps are the 100 TB refinements."""
    edges = cooccurrence_edges(spark)
    sym = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionAll(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    d1 = sym.distinct()
    nxt = sym.select(F.col("a").alias("via"), F.col("b").alias("nb"))
    d2 = (
        d1.join(nxt, d1.b == nxt.via)
        .select("a", F.col("nb").alias("b"))
        .filter(F.col("b") != F.col("a"))
        .distinct()
        .join(d1, ["a", "b"], "left_anti")
    )
    d3 = (
        d2.join(nxt, d2.b == nxt.via)
        .select("a", F.col("nb").alias("b"))
        .filter(F.col("b") != F.col("a"))
        .distinct()
        .join(d1, ["a", "b"], "left_anti")
        .join(d2, ["a", "b"], "left_anti")
    )
    c1 = d1.groupBy("a").agg(F.count("*").cast("bigint").alias("n1"))
    c2 = d2.groupBy("a").agg(F.count("*").cast("bigint").alias("n2"))
    c3 = d3.groupBy("a").agg(F.count("*").cast("bigint").alias("n3"))
    out = (
        c1.join(c2, "a", "left")
        .join(c3, "a", "left")
        .select(
            F.col("a").alias("addr"),
            "n1",
            F.coalesce(F.col("n2"), F.lit(0)).cast("bigint").alias("n2"),
            F.coalesce(F.col("n3"), F.lit(0)).cast("bigint").alias("n3"),
        )
    )
    return out.select(
        "addr",
        "n1",
        "n2",
        "n3",
        (6 * F.col("n1") + 3 * F.col("n2") + 2 * F.col("n3"))
        .cast("bigint")
        .alias("harmonic_x6"),
    )


@query(
    "graph_degree_centralization",
    f"""
    WITH {_DUCK_EDGES.strip()},
    sym AS (
        SELECT src AS a, dst AS b FROM edges
        UNION ALL SELECT dst, src FROM edges
    ), deg AS (
        SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(d) AS BIGINT) AS dmax,
               CAST(SUM(d) AS BIGINT) AS dsum
        FROM deg
    )
    SELECT n, dmax,
           CAST(n * dmax - dsum AS BIGINT) AS gap_sum,
           CAST(FLOOR(CAST(n * dmax - dsum AS DOUBLE)
                      / (CAST(n AS DOUBLE) - 1) / (n - 2)
                      * 1000000) AS BIGINT) AS centralization_e6
    FROM m
    """,
)
def graph_degree_centralization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FREEMAN degree centralization (round 9) — the one-number
    STAR-SHAPEDNESS of the graph, closing the degree-statistics
    trio: the histogram shows the distribution, the Gini its
    inequality; centralization C = Σ(d_max − d_i) / ((n−1)(n−2))
    normalizes the hub dominance against the star graph (C = 1) —
    the topology question ("is there ONE center?") Gini's
    value-concentration framing doesn't answer, and the single
    scalar monitoring tracks for hub-formation drift.

    Exactness is TOTAL until one division: degrees, n, d_max and
    the gap sum n·d_max − Σd are exact bigints (the gap-sum
    identity avoids a per-node subtraction pass); one floored
    double chain against the star-graph maximum.

    Scale: one keyed degree count + a 1-row extrema fold —
    map-side combinable throughout."""
    edges = cooccurrence_edges(spark)
    sym = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionAll(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").cast("bigint").alias("d"))
    m = deg.agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("d").cast("bigint").alias("dmax"),
        F.sum("d").cast("bigint").alias("dsum"),
    )
    gap = F.col("n") * F.col("dmax") - F.col("dsum")
    return m.select(
        "n",
        "dmax",
        gap.cast("bigint").alias("gap_sum"),
        F.floor(
            gap.cast("double")
            / (F.col("n").cast("double") - 1)
            / (F.col("n") - 2)
            * 1000000
        )
        .cast("bigint")
        .alias("centralization_e6"),
    )


_RESILIENCE_KS = (0, 2, 4)


def _hub_removal_oracle_sql() -> str:
    """Per-k recursive-closure oracle (the _DUCK_COMPONENTS shape on
    the hub-filtered edge set, survivors without edges counted as
    singletons), unioned over the removal ladder."""
    parts = []
    for k in _RESILIENCE_KS:
        parts.append(f"""
    SELECT CAST({k} AS BIGINT) AS k_removed,
           CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS n_components,
           CAST(MAX(csize) AS BIGINT) AS gcc_size,
           CAST(FLOOR(CAST(MAX(csize) AS DOUBLE) * 1000000 / COUNT(*))
                AS BIGINT) AS gcc_share_e6
    FROM (
        WITH RECURSIVE deg AS (
            SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a
        ), hubs AS (
            SELECT a FROM deg ORDER BY d DESC, a LIMIT {k}
        ), fsym AS (
            SELECT s.a, s.b FROM sym s
            WHERE s.a NOT IN (SELECT a FROM hubs)
              AND s.b NOT IN (SELECT a FROM hubs)
        ), survivors AS (
            SELECT a FROM nodes
            WHERE a NOT IN (SELECT a FROM hubs)
        ), reach(src, dst) AS (
            SELECT a, b FROM fsym
            UNION
            SELECT r.src, f.b FROM reach r JOIN fsym f ON r.dst = f.a
        ), labels AS (
            SELECT s.a,
                   least(s.a, coalesce(min(r.dst), s.a)) AS label
            FROM survivors s LEFT JOIN reach r ON s.a = r.src
            GROUP BY s.a
        ), comps AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS csize
            FROM labels GROUP BY label
        )
        SELECT l.label, c.csize FROM labels l JOIN comps c USING (label)
    )""")
    return (
        f"""
    WITH {_DUCK_EDGES.strip()},
    sym AS (
        SELECT src AS a, dst AS b FROM edges
        UNION ALL SELECT dst, src FROM edges
    ), nodes AS (
        SELECT DISTINCT a FROM sym
    )
    """
        + " UNION ALL ".join(parts)
        + " ORDER BY k_removed"
    )


@query("graph_hub_removal_resilience", _hub_removal_oracle_sql())
def graph_hub_removal_resilience(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HUB-REMOVAL resilience ladder (round 9) — the targeted-attack
    tolerance curve (Albert–Barabási): remove the top-k degree hubs
    (tie-pinned), recompute connectivity, and watch the giant
    component's share — scale-free graphs survive random failure but
    SHATTER under targeted hub removal, and how fast gcc_share
    collapses down the k-ladder is the robustness number
    (infrastructure risk for payment graphs, mixer-dependence for
    flow graphs).  graph_degree_centralization says there IS a
    center; this measures what breaks when you take it out.

    Exactness: degrees/hub election exact and tie-pinned; per-k
    components by the graph_components min-label machinery over the
    filtered edge set, survivors without a surviving edge counted as
    singletons (they ARE components); sizes/counts exact bigints,
    gcc share floors once.  Oracle: the recursive-closure form per
    rung, unioned.

    Scale: each rung is one bounded label-propagation run (≤
    diameter rounds of edge-keyed shuffles — the components cost
    note applies, ×|ladder|); the hub list is a k-row broadcast."""
    from graphsense_datafeed_spark.ingest.facade import label_propagate

    # Round-15: checkpoint the co-occurrence build ONCE — the sym
    # union used to evaluate the edge join in both branches; sym is
    # now a cheap column-swap union over materialized blocks.  The
    # k=0 rung reads sym/nodes directly (its hub set is empty, so the
    # two anti-joins were no-op re-materializations), and the per-rung
    # fsym checkpoint is gone: label_propagate materializes the
    # adjacency itself.
    edges = cooccurrence_edges(spark).localCheckpoint()
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
    )
    deg = sym.groupBy("a").agg(F.count("*").cast("bigint").alias("d"))
    nodes = sym.select("a").distinct().localCheckpoint()
    frames = []
    for k in _RESILIENCE_KS:
        if k == 0:
            survivors = nodes
            fsym = sym
        else:
            hubs = (
                deg.orderBy(F.col("d").desc(), "a").limit(k).select("a")
            )
            survivors = nodes.join(F.broadcast(hubs), "a", "left_anti")
            fsym = sym.join(
                F.broadcast(hubs.select(F.col("a").alias("ha"))),
                sym.a == F.col("ha"),
                "left_anti",
            ).join(
                F.broadcast(hubs.select(F.col("a").alias("hb"))),
                F.col("b") == F.col("hb"),
                "left_anti",
            )
        labels = survivors.select(
            F.col("a").alias("addr"), F.col("a").alias("label")
        ).localCheckpoint()
        labels = label_propagate(
            fsym.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            labels,
            max_iter=50,
            require_converged=True,
        ).state
        comps = labels.groupBy("label").agg(
            F.count("*").cast("bigint").alias("csize")
        )
        frames.append(
            comps.agg(
                F.lit(k).cast("bigint").alias("k_removed"),
                F.sum("csize").cast("bigint").alias("n_survivors"),
                F.count("*").cast("bigint").alias("n_components"),
                F.max("csize").cast("bigint").alias("gcc_size"),
                F.floor(
                    F.max("csize").cast("double")
                    * 1000000
                    / F.sum("csize")
                )
                .cast("bigint")
                .alias("gcc_share_e6"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("k_removed")


@query(
    "graph_conductance_segments",
    """
    WITH bip AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), edges AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b
        FROM bip a JOIN bip b ON a.part = b.part AND a.cust < b.cust
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ), labeled AS (
        SELECT e.cust_a, e.cust_b,
               sa.c_mktsegment AS seg_a, sb.c_mktsegment AS seg_b
        FROM edges e
        JOIN customer sa ON sa.c_custkey = e.cust_a
        JOIN customer sb ON sb.c_custkey = e.cust_b
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM labeled
    ), deg AS (
        SELECT seg, CAST(SUM(d) AS BIGINT) AS vol FROM (
            SELECT seg_a AS seg, CAST(COUNT(*) AS BIGINT) AS d
            FROM labeled GROUP BY seg_a
            UNION ALL
            SELECT seg_b, CAST(COUNT(*) AS BIGINT) FROM labeled
            GROUP BY seg_b
        ) GROUP BY seg
    ), cut AS (
        SELECT seg, CAST(SUM(c) AS BIGINT) AS cut_edges FROM (
            SELECT seg_a AS seg, CAST(COUNT(*) AS BIGINT) AS c
            FROM labeled WHERE seg_a <> seg_b GROUP BY seg_a
            UNION ALL
            SELECT seg_b, CAST(COUNT(*) AS BIGINT)
            FROM labeled WHERE seg_a <> seg_b GROUP BY seg_b
        ) GROUP BY seg
    )
    SELECT d.seg AS segment, m.n_edges, d.vol,
           COALESCE(c.cut_edges, 0) AS cut_edges,
           CASE WHEN LEAST(d.vol, 2 * m.n_edges - d.vol) > 0 THEN
               CAST(FLOOR(CAST(COALESCE(c.cut_edges, 0) AS DOUBLE)
                          / LEAST(d.vol, 2 * m.n_edges - d.vol)
                          * 1000000) AS BIGINT)
           ELSE NULL END AS conductance_e6
    FROM deg d LEFT JOIN cut c ON c.seg = d.seg CROSS JOIN m
    ORDER BY segment
    """,
)
def graph_conductance_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDUCTANCE of the market-segment partition (round 10) over
    the co-purchase graph (graph_modularity_segments' edge set): per
    segment φ(S) = cut(S) / min(vol(S), vol(V∖S)) — the EXPANSION
    view of partition quality where modularity is the null-model
    view.  The two disagree exactly when it matters: modularity can
    reward a segment for being big (degree-sum term) while its
    boundary is still porous; conductance reads the boundary
    directly, which is why spectral partitioners, METIS-style graph
    cuts, and "should we shard storage by this label?" decisions all
    minimize φ.  A segment with φ near 1 sends almost every edge
    outside — partitioning by it would shuffle everything anyway.

    Exactness: cut, volume and m are exact bigint counts off one
    labeled edge table; φ is one floored division.

    Scale: reuses the bounded within-part edge generation; cut and
    volume are two |segments|-row rollups on the same frame — the
    modularity plan with one different predicate."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    edges = _copurchase_pairs(_copurchase_bipartite(spark, sf_dir)).select(
        "cust_a", "cust_b"
    )
    sa = c.select(
        F.col("c_custkey").alias("cust_a"), F.col("c_mktsegment").alias("seg_a")
    )
    sb = c.select(
        F.col("c_custkey").alias("cust_b"), F.col("c_mktsegment").alias("seg_b")
    )
    # Round-15 (guide §2.4): labeled is consumed five ways (m, deg ×2,
    # cut ×2) — checkpoint the small pair list, run the generation once
    labeled = edges.join(F.broadcast(sa), "cust_a").join(
        F.broadcast(sb), "cust_b"
    ).localCheckpoint()
    m = labeled.agg(F.count("*").cast("bigint").alias("n_edges"))
    deg = (
        labeled.select(F.col("seg_a").alias("seg"))
        .unionAll(labeled.select(F.col("seg_b").alias("seg")))
        .groupBy("seg")
        .agg(F.count("*").cast("bigint").alias("vol"))
    )
    crossed = labeled.filter(F.col("seg_a") != F.col("seg_b"))
    cut = (
        crossed.select(F.col("seg_a").alias("seg"))
        .unionAll(crossed.select(F.col("seg_b").alias("seg")))
        .groupBy("seg")
        .agg(F.count("*").cast("bigint").alias("cut_edges"))
    )
    joined = (
        deg.join(cut, "seg", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("seg").alias("segment"),
            "n_edges",
            "vol",
            F.coalesce("cut_edges", F.lit(0)).cast("bigint").alias("cut_edges"),
        )
    )
    den = F.least(F.col("vol"), 2 * F.col("n_edges") - F.col("vol"))
    return joined.select(
        "segment",
        "n_edges",
        "vol",
        "cut_edges",
        F.when(
            den > 0,
            F.floor(F.col("cut_edges").cast("double") / den * 1000000).cast(
                "bigint"
            ),
        ).alias("conductance_e6"),
    ).orderBy("segment")


@query(
    "graph_avg_neighbor_degree",
    """
    WITH bip AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), edges AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b
        FROM bip a JOIN bip b ON a.part = b.part AND a.cust < b.cust
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ), sym AS (
        SELECT cust_a AS u, cust_b AS v FROM edges
        UNION ALL
        SELECT cust_b, cust_a FROM edges
    ), deg AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1
    ), nbr AS (
        SELECT s.u, CAST(SUM(dv.d) AS BIGINT) AS nbr_deg_sum
        FROM sym s JOIN deg dv ON dv.u = s.v
        GROUP BY s.u
    )
    SELECT d.d AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(n.nbr_deg_sum) AS BIGINT) AS nbr_deg_total,
           CAST(FLOOR(CAST(SUM(n.nbr_deg_sum) AS DOUBLE)
                      / (d.d * COUNT(*)) * 1000000) AS BIGINT)
               AS knn_e6
    FROM deg d JOIN nbr n ON n.u = d.u
    GROUP BY d.d ORDER BY degree
    """,
)
def graph_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE NEIGHBOR DEGREE curve k_nn(k) (round 10) on the
    co-purchase graph: for each degree class k, the mean degree of
    the neighbors of degree-k nodes — the per-k CURVE behind
    graph_assortativity's single correlation number.  Rising k_nn(k)
    = assortative (hubs wire to hubs — the rich-club's gradient
    view); falling = disassortative (hubs serve the periphery, the
    router/star topology).  The curve localizes WHERE mixing changes
    — a graph can be flat-assortative overall yet disassortative
    exactly in the high-k tail that matters for robustness
    (graph_hub_removal_resilience's territory).

    Exactness: degrees and neighbor-degree sums are exact bigint
    counts off the symmetrized edge list; one floored division per
    degree class.

    Scale: reuses the bounded within-part edge generation; the
    neighbor-degree join keys on the edge list (|edges| rows, the
    same exchange the degree count uses) and everything downstream
    is |degree-classes| rows."""
    edges = (
        _copurchase_pairs(_copurchase_bipartite(spark, sf_dir))
        .select("cust_a", "cust_b")
        # Round-15 (guide §2.4): edges feeds sym twice and sym feeds
        # deg + the nbr join — checkpoint the small pair list so the
        # within-part generation runs once, not four times
        .localCheckpoint()
    )
    sym = edges.select(
        F.col("cust_a").alias("u"), F.col("cust_b").alias("v")
    ).unionAll(edges.select(F.col("cust_b").alias("u"), F.col("cust_a").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    nbr = (
        sym.join(dv, "v")
        .groupBy("u")
        .agg(F.sum("dv").cast("bigint").alias("nbr_deg_sum"))
    )
    j = deg.join(nbr, "u")
    return (
        j.groupBy(F.col("d").alias("degree"))
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("nbr_deg_sum").cast("bigint").alias("nbr_deg_total"),
            F.floor(
                F.sum("nbr_deg_sum").cast("double")
                / (F.col("d") * F.count("*"))
                * 1000000
            )
            .cast("bigint")
            .alias("knn_e6"),
        )
        .orderBy("degree")
    )


@query(
    "graph_clustering_vs_null",
    f"""
    WITH {_DUCK_EDGES}, sym AS (
        SELECT src AS addr, dst AS nbr FROM edges
        UNION
        SELECT dst AS addr, src AS nbr FROM edges
    ), deg AS (
        SELECT addr, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY addr
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS s1,
               CAST(SUM(d * d) AS BIGINT) AS s2,
               CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        FROM deg
    ), tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT m.n, m.s1, m.s2, m.n_wedges, t.n_triangles,
           CASE WHEN m.n_wedges > 0 THEN
               CAST(FLOOR(3.0 * t.n_triangles / m.n_wedges * 1000000)
                    AS BIGINT) ELSE NULL END AS c_global_e6,
           CAST(FLOOR(
               (CAST(m.s2 AS DOUBLE) / m.n - CAST(m.s1 AS DOUBLE) / m.n)
               * (CAST(m.s2 AS DOUBLE) / m.n - CAST(m.s1 AS DOUBLE) / m.n)
               / (m.n * (CAST(m.s1 AS DOUBLE) / m.n)
                  * (CAST(m.s1 AS DOUBLE) / m.n)
                  * (CAST(m.s1 AS DOUBLE) / m.n))
               * 1000000) AS BIGINT) AS c_random_e6,
           CASE WHEN m.n_wedges > 0 THEN
               CAST(FLOOR(
                   (3.0 * t.n_triangles / m.n_wedges)
                   / ((CAST(m.s2 AS DOUBLE) / m.n
                       - CAST(m.s1 AS DOUBLE) / m.n)
                      * (CAST(m.s2 AS DOUBLE) / m.n
                         - CAST(m.s1 AS DOUBLE) / m.n)
                      / (m.n * (CAST(m.s1 AS DOUBLE) / m.n)
                         * (CAST(m.s1 AS DOUBLE) / m.n)
                         * (CAST(m.s1 AS DOUBLE) / m.n)))
                   * 1000000) AS BIGINT)
           ELSE NULL END AS ratio_e6
    FROM mom m CROSS JOIN tri t
    """,
)
def graph_clustering_vs_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL CLUSTERING vs the CONFIGURATION-MODEL null (round 10):
    C = 3·triangles/wedges against C_rand = (⟨k²⟩−⟨k⟩)²/(n·⟨k⟩³) —
    the expected transitivity of a random graph with the SAME degree
    sequence.  The ratio is the half of the small-world verdict the
    repo's graph kit could not state: graph_clustering_coeff says
    HOW clustered, this says whether that clustering is structure or
    just what the hubs force (heavy-tailed degrees manufacture
    triangles in any random wiring — a ratio ≈ 1 means the
    'community structure' is a degree-sequence artifact, the classic
    over-interpretation in transaction-graph analytics).

    Exactness: triangle and wedge counts and the degree moments are
    exact bigints off the oriented edge list (wedges as the exact
    integer Σd(d−1)/2); C, C_rand and the ratio are three double
    chains floored e6.

    Scale: the triangle join is the graph_triangle_count plan; the
    moment side is two map-side-combinable aggregations — the null
    model costs nothing extra at any scale."""
    e = cooccurrence_edges(spark)
    sym = e.select(F.col("src").alias("addr"), F.col("dst").alias("nbr")).union(
        e.select(F.col("dst").alias("addr"), F.col("src").alias("nbr"))
    )
    deg = sym.groupBy("addr").agg(F.count("*").cast("bigint").alias("d"))
    mom = deg.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("s1"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("s2"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("bigint").alias("n_wedges"),
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
            "left_semi",
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    j = mom.crossJoin(F.broadcast(tri))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    kbar = d("s1") / d("n")
    c_rand = (d("s2") / d("n") - kbar) * (d("s2") / d("n") - kbar) / (
        d("n") * kbar * kbar * kbar
    )
    c_glob = 3.0 * d("n_triangles") / d("n_wedges")
    return j.select(
        "n",
        "s1",
        "s2",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.floor(c_glob * 1000000).cast("bigint"),
        ).alias("c_global_e6"),
        F.floor(c_rand * 1000000).cast("bigint").alias("c_random_e6"),
        F.when(
            F.col("n_wedges") > 0,
            F.floor(c_glob / c_rand * 1000000).cast("bigint"),
        ).alias("ratio_e6"),
    )


@query(
    "graph_smetric",
    f"""
    WITH {_DUCK_EDGES},
    sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(du.d * dv.d) AS BIGINT) AS s_metric,
           CAST(SUM(du.d + dv.d) AS BIGINT) AS sum_deg,
           CAST(SUM(du.d * du.d + dv.d * dv.d) AS BIGINT) AS sum_deg_sq
    FROM edges e
    JOIN deg du ON du.node = e.src
    JOIN deg dv ON dv.node = e.dst
    """,
)
def graph_smetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-METRIC of the co-occurrence graph (round 11), Li-Alderson-
    Doyle-Willinger: s(G) = Σ_{(u,v)∈E} d(u)·d(v) — the scalar that
    separates 'scale-free by degree sequence' from 'scale-rich by
    wiring': among all graphs with the SAME degree sequence, s is
    maximal when hubs attach to hubs.  The edge-level sums emitted
    alongside (Σd(u)+d(v), Σd(u)²+d(v)²) are exactly the three
    ingredients of the Pearson degree-assortativity numerator/
    denominator, making this the exact-integer companion to
    graph_assortativity's floored readout.

    Exactness: degrees and all three edge sums are exact bigints —
    no floats anywhere in the output.

    Scale: degree table = one keyed aggregate on the symmetrized
    edges; two hash joins edge→degree (the degree side is the small
    frame — broadcastable at any realistic node/edge ratio); one
    1-row fold.  No windows, no quadratic stage."""
    e = cooccurrence_edges(spark)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("dv"))
    return (
        e.join(du, "src")
        .join(dv, "dst")
        .agg(
            F.count("*").cast("bigint").alias("n_edges"),
            F.sum(F.col("du") * F.col("dv")).cast("bigint").alias("s_metric"),
            F.sum(F.col("du") + F.col("dv")).cast("bigint").alias("sum_deg"),
            F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))
            .cast("bigint")
            .alias("sum_deg_sq"),
        )
    )


@query(
    "graph_transitivity_global",
    f"""
    WITH {_DUCK_EDGES},
    sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY 1
    ), wedges AS (
        SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
    ), tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT w.n_wedges, t.n_triangles,
           CAST(FLOOR(3.0 * CAST(t.n_triangles AS DOUBLE)
                      / CAST(w.n_wedges AS DOUBLE) * 1000000) AS BIGINT)
               AS transitivity_e6
    FROM wedges w, tri t
    """,
)
def graph_transitivity_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL TRANSITIVITY (round 11): C = 3·triangles / wedges —
    the closed-wedge fraction of the WHOLE graph, weighting every
    wedge equally where graph_clustering_coeff's per-node average
    weights every NODE equally (the two disagree badly on hub-heavy
    graphs: a few high-degree open hubs crush transitivity while
    barely moving the node average — reading both is the standard
    diagnostic for whether closure lives in the core or the fringe).

    Exactness: wedges Σd(d−1)/2 (d(d−1) always even — exact integer
    division) and the oriented triangle count are exact bigints; ONE
    double division, floored e6.

    Scale: degree aggregate + the graph_triangle_count join program
    (same orientation, same arboricity-bounding refinement path);
    1-row finish."""
    e = cooccurrence_edges(spark)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    wedges = deg.agg(
        # exact int64 DIV per row (d*(d-1) is even, but the double
        # product rounds past 2^53 for hub degrees ~1e8 — ADVICE r11
        # integer-division discipline), summed as bigint
        F.sum(F.expr("CAST(d * (d - 1) DIV 2 AS BIGINT)"))
        .cast("bigint")
        .alias("n_wedges")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
            "left_semi",
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    return wedges.crossJoin(F.broadcast(tri)).select(
        "n_wedges",
        "n_triangles",
        F.floor(
            3.0
            * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double")
            * 1000000
        )
        .cast("bigint")
        .alias("transitivity_e6"),
    )


@query(
    "graph_local_bridges",
    f"""
    WITH {_DUCK_EDGES},
    sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), wedged AS (
        SELECT e.src, e.dst, CAST(COUNT(s2.dst) AS BIGINT) AS cn
        FROM edges e
        LEFT JOIN sym s1 ON s1.src = e.src
        LEFT JOIN sym s2 ON s2.src = e.dst AND s2.dst = s1.dst
        GROUP BY e.src, e.dst
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(COUNT(*) FILTER (cn = 0) AS BIGINT) AS n_local_bridges,
           CAST(COUNT(*) FILTER (cn = 0) * 1000000 // COUNT(*) AS BIGINT)
               AS share_e6
    FROM wedged
    """,
)
def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL-BRIDGE CENSUS (round 11): an edge is a local bridge when
    its endpoints share NO common neighbor — removing it forces any
    alternative path to length ≥ 3.  Granovetter's weak-tie edges in
    graph form: local bridges are where information (or tainted
    value, in the co-spend graph) crosses between otherwise-separate
    clusters, the edge-level complement to graph_clustering_coeff
    (which scores the NODES) and the structural signal under
    graph_edge_overlap_bridges' overlap quantiles — this is the
    exact zero-overlap boundary case, counted.

    Exactness: common-neighbor counts are exact integers from the
    oriented wedge join (LEFT joins keep zero-wedge edges); the
    share is exact integer division.

    Scale: the graph_common_neighbors join program (wedges pivot on
    shared endpoints; degree-orientation bounds hub fan-out at
    100 TB) with a 1-row census finish."""
    e = cooccurrence_edges(spark)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    s1 = sym.select(F.col("src").alias("u"), F.col("dst").alias("w1"))
    s2 = sym.select(F.col("src").alias("v"), F.col("dst").alias("w2"))
    wedged = (
        e.join(s1, e.src == s1.u, "left")
        .join(
            s2,
            (e.dst == s2.v) & (F.col("w1") == F.col("w2")),
            "left",
        )
        .groupBy(e.src, e.dst)
        .agg(F.count(F.col("w2")).cast("bigint").alias("cn"))
    )
    return wedged.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.count_if(F.col("cn") == 0).cast("bigint").alias("n_local_bridges"),
        # exact int64 DIV matching the oracle's `//` (ADVICE r11)
        F.expr(
            "CAST(count_if(cn = 0) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("share_e6"),
    )


# ---------------------------------------------------------------------------
# Round 12: graph structure census completions — the degree-degree
# mixing matrix (who wires to whom, by degree class) and per-node
# triangle participation (where the triangle mass actually sits).
# ---------------------------------------------------------------------------


@query(
    "graph_degree_mixing_matrix",
    f"""
    WITH {_DUCK_EDGES}, sym AS (
        SELECT src, dst FROM edges
        UNION ALL SELECT dst, src FROM edges
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY 1
    )
    SELECT CAST(FLOOR(LOG2(ds.d)) AS BIGINT) AS src_band,
           CAST(FLOOR(LOG2(dd.d)) AS BIGINT) AS dst_band,
           CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM sym e
    JOIN deg ds ON ds.node = e.src
    JOIN deg dd ON dd.node = e.dst
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def graph_degree_mixing_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE-DEGREE MIXING MATRIX (round 12): directed half-edge
    counts binned by log₂ degree band of each endpoint — the
    two-dimensional structure behind graph_assortativity's single
    correlation number: a hub-hub-heavy diagonal (rich club wiring)
    and a hub-leaf-heavy off-diagonal (star/exchange wiring) can
    produce the SAME assortativity coefficient; the matrix
    distinguishes them, which is what an entity-typing heuristic
    actually consumes.

    Exactness: degrees are exact integer counts over the symmetrized
    edge list; log₂ band floors are safe — the only floor boundaries
    are exact powers of two, where IEEE log2 is exact on both engines
    (non-powers sit ≥ 1/(d·ln2) from a boundary, orders of magnitude
    above ulp noise); band cell counts are exact.

    Scale: degree table + two keyed joins back to edges (the
    graph_assortativity join program) — no pair enumeration, band
    domain is log-bounded (≤ 64 bands ever)."""
    e = cooccurrence_edges(spark)
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    ds = deg.select(
        F.col("node").alias("s_node"),
        F.floor(F.log2("d")).cast("bigint").alias("src_band"),
    )
    dd = deg.select(
        F.col("node").alias("d_node"),
        F.floor(F.log2("d")).cast("bigint").alias("dst_band"),
    )
    return (
        sym.join(ds, sym.src == ds.s_node)
        .join(dd, sym.dst == dd.d_node)
        .groupBy("src_band", "dst_band")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
        .orderBy("src_band", "dst_band")
    )


@query(
    "graph_triangle_participation",
    f"""
    WITH {_DUCK_EDGES}, tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), pernode AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY 1
    )
    SELECT n_tri, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM pernode GROUP BY 1 ORDER BY 1
    """,
)
def graph_triangle_participation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRIANGLE PARTICIPATION distribution (round 12): how many nodes
    sit in exactly k triangles — graph_triangle_count says how much
    closure exists in total; this says WHERE it sits (a community-rich
    graph has broad participation; a single clique puts all mass on
    few deep nodes), and participation ≥ 1 is the classic seed filter
    for community detection (nodes in zero triangles cannot be in any
    non-trivial clique community).

    Exactness: the oriented a<b<c triangle enumeration is the
    graph_triangle_count join program verbatim; each triangle charges
    its three corners via UNION ALL; both histogram dimensions are
    exact integer counts.

    Scale: same arboricity-bounded oriented join as triangle_count
    (each triangle generated once, no symmetrization blow-up); the
    explode is 3× the triangle list, the histogram is count-domain
    bounded."""
    e = cooccurrence_edges(spark)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    pernode = corners.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_tri")
    )
    return (
        pernode.groupBy("n_tri")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("n_tri")
    )


@query(
    "graph_label_homophily",
    f"""
    WITH {_DUCK_EDGES}, lab AS (
        SELECT DISTINCT addr,
               CAST(CAST('0x' || substr(md5('hom:' || addr), 1, 4)
                    AS BIGINT) % 2 AS BIGINT) AS lbl
        FROM (SELECT src AS addr FROM edges
              UNION SELECT dst FROM edges)
    ), typed AS (
        SELECT la.lbl AS la, lb.lbl AS lb
        FROM edges e
        JOIN lab la ON la.addr = e.src
        JOIN lab lb ON lb.addr = e.dst
    ), cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(COUNT(*) FILTER (la = lb) AS BIGINT) AS within,
               CAST(SUM(la) + SUM(lb) AS BIGINT) AS ends1
        FROM typed
    )
    SELECT m, within,
           CAST(FLOOR(CAST(within AS DOUBLE) / m * 1000000) AS BIGINT)
               AS within_share_e6,
           CAST(FLOOR((CAST(within AS DOUBLE) / m
                       - ((CAST(ends1 AS DOUBLE) / (2 * m))
                          * (CAST(ends1 AS DOUBLE) / (2 * m))
                          + (1.0 - CAST(ends1 AS DOUBLE) / (2 * m))
                            * (1.0 - CAST(ends1 AS DOUBLE) / (2 * m))))
                      / (1.0 - ((CAST(ends1 AS DOUBLE) / (2 * m))
                                * (CAST(ends1 AS DOUBLE) / (2 * m))
                                + (1.0 - CAST(ends1 AS DOUBLE) / (2 * m))
                                  * (1.0 - CAST(ends1 AS DOUBLE)
                                     / (2 * m))))
                      * 1000000) AS BIGINT) AS assortativity_e6
    FROM cells
    """,
)
def graph_label_homophily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL label homophily (round 12): do same-label
    addresses preferentially transact?  Newman's categorical
    assortativity r = (Σeᵢᵢ − Σaᵢ²)/(1 − Σaᵢ²) over a deterministic
    binary md5 label — the LABEL twin of graph_assortativity (degree
    Pearson) and the one-number summary of what
    graph_degree_mixing_matrix shows by band: r > 0 = community
    wiring, r < 0 = bipartite-ish wiring (exchange↔user), r ≈ 0 is
    the null this hash label referees by construction (asserted in
    tests/test_round12_ops.py).

    Exactness: labels and edge cells are exact integers (ends1 counts
    label-1 endpoints, so aᵢ = ends1/2m is the exact endpoint share);
    r is ONE double chain floored e6, written with explicit products
    (no POW — pow(x,2) parity is not guaranteed).

    Scale: two broadcast label joins over the edge list + a 1-row
    readout — the assortativity join program."""
    e = cooccurrence_edges(spark)
    nodes = e.select(F.col("src").alias("addr")).union(
        e.select(F.col("dst").alias("addr"))
    ).distinct()
    lbl = md5_int(F.lit("hom:"), F.col("addr"), digits=4) % 2
    lab = nodes.select("addr", lbl.alias("lbl"))
    la = lab.select(F.col("addr").alias("a_src"), F.col("lbl").alias("la"))
    lb = lab.select(F.col("addr").alias("a_dst"), F.col("lbl").alias("lb"))
    typed = (
        e.join(la, e.src == F.col("a_src"))
        .join(lb, e.dst == F.col("a_dst"))
        .select("la", "lb")
    )
    cells = typed.agg(
        F.count("*").cast("bigint").alias("m"),
        F.count_if(F.col("la") == F.col("lb")).cast("bigint").alias(
            "within"
        ),
        (F.sum("la") + F.sum("lb")).cast("bigint").alias("ends1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p1 = d("ends1") / (2 * F.col("m"))
    base = p1 * p1 + (1.0 - p1) * (1.0 - p1)
    obs = d("within") / F.col("m")
    return cells.select(
        "m",
        "within",
        F.floor(obs * 1000000).cast("bigint").alias("within_share_e6"),
        F.floor((obs - base) / (1.0 - base) * 1000000)
        .cast("bigint")
        .alias("assortativity_e6"),
    )


@query(
    "graph_triad_census_directed",
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
        SELECT tx_hash, (o).address[1] AS dst
        FROM (SELECT tx_hash, unnest(outputs) AS o FROM txio)
    ), dedges AS (
        SELECT DISTINCT i.src, o.dst
        FROM ins i JOIN outs o USING (tx_hash)
        WHERE i.src <> o.dst
    ), paths AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c,
               (c3.src IS NOT NULL) AS cyc,
               (t3.src IS NOT NULL) AS tra
        FROM dedges e1
        JOIN dedges e2 ON e2.src = e1.dst AND e2.dst <> e1.src
        LEFT JOIN dedges c3 ON c3.src = e2.dst AND c3.dst = e1.src
        LEFT JOIN dedges t3 ON t3.src = e1.src AND t3.dst = e2.dst
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_paths2,
           CAST(COUNT(*) FILTER (cyc) AS BIGINT) AS n_cyclic_closed,
           CAST(COUNT(*) FILTER (tra) AS BIGINT) AS n_transitive_closed,
           CAST(COUNT(*) FILTER (cyc) // 3 AS BIGINT)
               AS n_cyclic_triangles,
           CASE WHEN COUNT(*) FILTER (cyc OR tra) > 0 THEN
               CAST((COUNT(*) FILTER (tra) * 1000000)
                    // (COUNT(*) FILTER (cyc) + COUNT(*) FILTER (tra))
                    AS BIGINT)
           END AS transitive_share_e6
    FROM paths
    """,
)
def graph_triad_census_directed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DIRECTED triad census on the address-FLOW graph (round 12
    cont.): of all length-2 directed payment paths a→b→c (a≠c), how
    many close CYCLICALLY (c→a — value returns to its origin:
    churn/mixing loops) vs TRANSITIVELY (a→c — a shortcut alongside
    the 2-hop route: hierarchy)?  The directed refinement of
    graph_triangle_count/graph_transitivity_global, and the
    feedforward-vs-feedback wiring signature network biology calls
    the FFL census — a laundering graph skews cyclic, an
    exchange-hub graph skews transitive.

    Exactness: ALL-INTEGER — distinct directed edges (same fabric as
    graph_reciprocity), exact path/closure counts, cyclic count is
    divisible by 3 by construction (each 3-cycle closes from each of
    its 3 rotations) so `// 3` is exact division; the share is an
    integer division of nonnegatives.

    Scale: e1⋈e2 shuffles once on the shared node key; the two
    closure probes are equi self-joins on existing edge keys — never
    a pair/triple enumeration beyond real paths (the standard
    distributed triangle-join program, direction-aware)."""
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
        "tx_hash", F.col("o.address")[0].alias("dst")
    )
    dedges = (
        ins.join(outs, "tx_hash")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    e1 = dedges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = dedges.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    paths = e1.join(e2, (F.col("b") == F.col("b2"))).filter(
        F.col("c") != F.col("a")
    )
    c3 = dedges.select(
        F.col("src").alias("c3s"),
        F.col("dst").alias("c3d"),
        F.lit(True).alias("cyc"),
    )
    t3 = dedges.select(
        F.col("src").alias("t3s"),
        F.col("dst").alias("t3d"),
        F.lit(True).alias("tra"),
    )
    flagged = (
        paths.join(
            c3,
            (F.col("c3s") == F.col("c")) & (F.col("c3d") == F.col("a")),
            "left",
        )
        .join(
            t3,
            (F.col("t3s") == F.col("a")) & (F.col("t3d") == F.col("c")),
            "left",
        )
        .select(
            F.coalesce(F.col("cyc"), F.lit(False)).alias("cyc"),
            F.coalesce(F.col("tra"), F.lit(False)).alias("tra"),
        )
    )
    agg = flagged.agg(
        F.count("*").cast("bigint").alias("n_paths2"),
        F.count_if(F.col("cyc")).cast("bigint").alias("n_cyclic_closed"),
        F.count_if(F.col("tra"))
        .cast("bigint")
        .alias("n_transitive_closed"),
    )
    return agg.select(
        "n_paths2",
        "n_cyclic_closed",
        "n_transitive_closed",
        F.expr("n_cyclic_closed DIV 3").alias("n_cyclic_triangles"),
        F.when(
            F.col("n_cyclic_closed") + F.col("n_transitive_closed") > 0,
            F.expr(
                "(n_transitive_closed * 1000000)"
                " DIV (n_cyclic_closed + n_transitive_closed)"
            ),
        ).alias("transitive_share_e6"),
    )


@query(
    "graph_square_count",
    f"""
    WITH {_DUCK_EDGES}, sym AS (
        SELECT src AS addr, dst AS nbr FROM edges
        UNION
        SELECT dst AS addr, src AS nbr FROM edges
    ), codeg AS (
        SELECT a.addr AS u, b.addr AS v, CAST(COUNT(*) AS BIGINT) AS cd
        FROM sym a JOIN sym b
          ON a.nbr = b.nbr AND a.addr < b.addr
        GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_codeg_pairs,
           CAST(SUM(cd * (cd - 1) // 2) AS BIGINT) AS diag_pairs,
           CAST(SUM(cd * (cd - 1) // 2) // 2 AS BIGINT) AS n_squares
    FROM codeg
    """,
)
def graph_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 4-cycle (C4) count of the address co-occurrence graph
    (round 13): every unordered node pair (u,v) with c common
    neighbors contributes C(c,2) candidate squares u–x–v–y, and each
    C4 owns exactly TWO diagonals — so squares = Σ C(codeg,2)/2. The
    motif one step up from graph_triangle_count: triangle-free but
    square-rich regions are the bipartite/butterfly structures
    (exchange hot wallets fanning to the same user sets) triangle
    census can't see. PURE integer arithmetic (C(c,2) and the halving
    are exact — the diagonal-pair total is even by construction).

    Scale: the common-neighbor pair join (the graph_common_neighbors
    shape, Σdeg² wedge fan-out — the documented hub caveat and its
    degree-ordered refinement apply unchanged); one keyed count, one
    fold."""
    e = cooccurrence_edges(spark)
    sym = e.select(
        F.col("src").alias("addr"), F.col("dst").alias("nbr")
    ).union(e.select(F.col("dst").alias("addr"), F.col("src").alias("nbr")))
    a = sym.alias("a")
    b = sym.alias("b")
    codeg = (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.nbr"))
            & (F.col("a.addr") < F.col("b.addr")),
        )
        .groupBy(F.col("a.addr").alias("u"), F.col("b.addr").alias("v"))
        .agg(F.count("*").cast("bigint").alias("cd"))
    )
    return codeg.agg(
        F.count("*").cast("bigint").alias("n_codeg_pairs"),
        F.sum(F.expr("cd * (cd - 1) DIV 2")).cast("bigint").alias(
            "diag_pairs"
        ),
        F.expr("CAST(SUM(cd * (cd - 1) DIV 2) DIV 2 AS BIGINT)").alias(
            "n_squares"
        ),
    )


@query(
    "graph_degree_entropy",
    f"""
    WITH {_DUCK_EDGES}, sym AS (
        SELECT src AS addr, dst AS nbr FROM edges
        UNION
        SELECT dst AS addr, src AS nbr FROM edges
    ), deg AS (
        SELECT addr, CAST(COUNT(*) AS BIGINT) AS degree
        FROM sym GROUP BY addr
    ), hist AS (
        SELECT degree, CAST(COUNT(*) AS BIGINT) AS c
        FROM deg GROUP BY degree
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM hist
    ), terms AS (
        SELECT h.c, t.n, t.k,
               CAST(FLOOR(-1.0 * h.c
                          * ln(CAST(h.c AS DOUBLE) / t.n)
                          * 1000000000 / t.n) AS BIGINT) AS term_e9
        FROM hist h, tot t
    )
    SELECT MAX(n) AS n_nodes, MAX(k) AS n_degree_levels,
           CAST(SUM(term_e9) AS BIGINT) AS entropy_e9,
           CAST(FLOOR(CAST(SUM(term_e9) AS DOUBLE) / 1000000000.0
                      / ln(CAST(MAX(k) AS DOUBLE)) * 1000000) AS BIGINT)
               AS normalized_entropy_e6
    FROM terms
    """,
)
def graph_degree_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the degree distribution (round 13): how
    heterogeneous the co-occurrence graph's connectivity is in ONE
    number — low entropy = a few dominant degree classes (regular or
    star-dominated), high = broad mixing; the information-theoretic
    companion to graph_degree_gini (dispersion) and
    graph_degree_centralization (hub dominance), normalized by
    ln(levels) for cross-SF comparability.

    Exactness: the degree histogram is exact integer counting; each
    degree class's −p·ln(p) term floors e9 BEFORE the order-free sum
    (the Atkinson rule: a raw float Σ is partition-order dependent);
    the normalization is one final double chain.

    Scale: two cascaded partial-aggregating rollups (node → degree →
    class count) — the graph_degree_hist shape plus a bounded fold."""
    e = cooccurrence_edges(spark)
    sym = e.select(
        F.col("src").alias("addr"), F.col("dst").alias("nbr")
    ).union(e.select(F.col("dst").alias("addr"), F.col("src").alias("nbr")))
    deg = sym.groupBy("addr").agg(F.count("*").cast("bigint").alias("degree"))
    hist = deg.groupBy("degree").agg(F.count("*").cast("bigint").alias("c"))
    tot = hist.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
    )
    terms = hist.crossJoin(F.broadcast(tot)).select(
        "c",
        "n",
        "k",
        F.floor(
            F.lit(-1.0)
            * F.col("c")
            * F.log(F.col("c").cast("double") / F.col("n"))
            * 1000000000
            / F.col("n")
        )
        .cast("bigint")
        .alias("term_e9"),
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n_nodes"),
        F.max("k").cast("bigint").alias("n_degree_levels"),
        F.sum("term_e9").cast("bigint").alias("entropy_e9"),
        F.floor(
            F.sum("term_e9").cast("double")
            / 1000000000.0
            / F.log(F.max("k").cast("double"))
            * 1000000
        )
        .cast("bigint")
        .alias("normalized_entropy_e6"),
    )


@query(
    "graph_butterfly_count_bipartite",
    """
    WITH pres AS (
        SELECT DISTINCT user_id, event_type FROM events
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS co_users
        FROM pres a JOIN pres b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, co_users,
           CAST(co_users * (co_users - 1) // 2 AS BIGINT)
               AS butterflies
    FROM pairs ORDER BY type_a, type_b
    """,
)
def graph_butterfly_count_bipartite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BUTTERFLY (2×2 biclique) census of the user × event-type
    bipartite graph (round 13): per type pair, the co-engaged user
    count and C(co,2) butterflies — the bipartite analogue of the
    triangle (bipartite graphs HAVE no triangles; the butterfly is
    their smallest cohesion motif, and butterfly counting is the
    standard bipartite-density primitive in the streaming-graph
    literature). High butterfly mass between two types = their
    audiences interlock pairwise, the signal behind
    events_audience_overlap's single-ratio readout. PURE integer.

    Scale: the co-membership join keys on user_id (hash equi-join;
    fan-out = per-user type-degree ≤ |types|), then a |types|²-bounded
    rollup — the wedge side of butterfly counting, with the standard
    hub caveat handled by the bounded type domain (on an unbounded
    side you'd degree-order like graph_triangle_count documents)."""
    ev = load(spark, sf_dir, "events")
    pres = ev.select("user_id", "event_type").distinct()
    b = pres.select(
        F.col("user_id").alias("uid2"), F.col("event_type").alias("type_b")
    )
    pairs = (
        pres.join(
            b,
            (F.col("user_id") == F.col("uid2"))
            & (F.col("event_type") < F.col("type_b")),
        )
        .groupBy(F.col("event_type").alias("type_a"), "type_b")
        .agg(F.count("*").cast("bigint").alias("co_users"))
    )
    return pairs.select(
        "type_a",
        "type_b",
        "co_users",
        F.expr("CAST(co_users * (co_users - 1) DIV 2 AS BIGINT)").alias(
            "butterflies"
        ),
    ).orderBy("type_a", "type_b")
