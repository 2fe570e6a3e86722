"""SURVEY §2.10 — similarity search over embedding columns (MANDATE).

Two tiers, matching the 100 TB design note in SURVEY §4.3:

- `sim_topk_exact`: brute-force cosine top-k — the correctness
  baseline and the re-rank stage. Bounded query set × full corpus;
  pairwise dot products via JVM-side higher-order lambdas (zip_with +
  aggregate) — no UDF, no Python hop.
- `sim_ann_lsh`: random-hyperplane LSH — sign-bit bucket per vector
  from a SEEDED literal projection matrix (deterministic, shippable in
  the plan), search only within bucket. Sub-linear candidate sets at
  scale; recall vs exact asserted in tests/test_llm.py.
- `embed_centroids`: per-label centroid + distance — the grouped
  vector-mean pattern (classification / cluster-profile building).

Unit-norm fixture vectors (FIXTURES.md) → cosine ≡ dot product.
"""

import random
from typing import Optional

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphsense_datafeed_spark.functions.hashing import md5_int
from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.schemas import EMBEDDING_DIM
from graphsense_datafeed_spark.sources.tables import load


def dot_product(a, b):
    """Cosine/dot via zip_with+aggregate (JVM codegen, float→double
    widening and left-fold order identical to the DuckDB oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


_DUCK_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
)


@query(
    "sim_topk_exact",
    f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} AS dot
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 30
    )
    SELECT query_id, neighbor_id, rank_k,
           CAST(FLOOR(dot * 10000) AS BIGINT) AS cosine_e4
    FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id ASC) AS rank_k
        FROM scored
    ) WHERE rank_k <= 5
    """,
)
def sim_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for a bounded query set against the
    full corpus.

    Round-15 (guide §8/§4.2): the query×corpus pair frame (60K rows
    at sf0.1, each carrying two 64-float payloads through an
    interpreted zip_with fold and a window) is replaced by the fused
    Arrow top-k kernel — each task scores its query rows against the
    corpus matrix with the ordered float64 fold and emits the ranked
    top-5 directly (stable argsort over the id-sorted corpus ==
    row_number over (dot DESC, neighbor_id ASC)). Bit-identical
    output (oracle-hash green at sf0.01/sf0.1); measured ~0.7 →
    ~0.25 s isolated at sf0.1.

    Scale: queries×corpus dot products — at 100 TB this exact form is
    the RE-RANK stage over LSH candidates; running it corpus×corpus is
    the documented anti-pattern."""
    q = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 30)
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    top = q.mapInArrow(
        _corpus_topk_arrow(sf_dir, 5, "topk"),
        "query_id long, neighbor_id long, rank_k int, dot double",
    )
    return top.select(
        "query_id",
        "neighbor_id",
        "rank_k",
        F.floor(F.col("dot") * 10000).cast("bigint").alias("cosine_e4"),
    )


def _hyperplanes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Seeded random hyperplanes, embedded as plan literals — every
    executor computes identical buckets with no side-channel state."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


# Multi-table LSH: B independent tables of r sign bits each. Tuned
# against the MEASURED fixture geometry: true top-3 neighbors sit at
# dot≈0.33-0.6 (θ≈53-70°), so per-plane collision p = 1-θ/π ≈ 0.61-0.70
# → per-table p^6 ≈ 0.05-0.12 → 16-table recall 1-(1-p^6)^16 ≈ 0.6-0.9,
# while random pairs (dot≈0) collide at 1-(1-0.5^6)^16 ≈ 0.22 — a ~5×
# candidate reduction. Closer neighbors (real near-dups at dot>0.9)
# would be caught with near-certainty.
_N_TABLES = 16
_PLANES_PER_TABLE = 6


def lsh_buckets_udf():
    """Vectorized bucket assignment: one Arrow-batched numpy matmul
    (N×64 @ 64×96 → sign bits → 16 bucket ints per vector).

    Dense projection is the one place this engine prefers a pandas UDF
    over built-ins: Spark's higher-order lambdas are INTERPRETED (not
    codegen'd) — 96 aggregate-lambdas per row measured 25× slower than
    this matmul. The plane matrix is seeded and baked into the closure,
    so every executor computes identical buckets."""
    planes = np.array(
        [
            _hyperplanes(_PLANES_PER_TABLE, EMBEDDING_DIM, seed=42 + t)[i]
            for t in range(_N_TABLES)
            for i in range(_PLANES_PER_TABLE)
        ],
        dtype=np.float64,
    )  # (96, 64)
    weights = (1 << np.arange(_PLANES_PER_TABLE, dtype=np.int64))  # (6,)
    n_tables, r = _N_TABLES, _PLANES_PER_TABLE

    @F.pandas_udf("array<bigint>")
    def buckets(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy())  # (N, 64) float32
        # ordered left-fold over the dim axis instead of BLAS matmul
        # (round 12): proj[n,j] = ((0 + e1*w1) + e2*w2) + ... in index
        # order — bit-identical to DuckDB's list_reduce fold, which is
        # what lets sim_ann_lsh / sim_lsh_bucket_index carry EXACT
        # oracles (VERDICT r11 item 6). BLAS uses blocked summation
        # whose order is unspecified; same flop count either way.
        proj = np.zeros((len(mat), planes.shape[0]))
        for k in range(planes.shape[1]):
            proj += mat[:, k, None].astype(np.float64) * planes[None, :, k]
        bits = proj > 0  # (N, 96)
        b = bits.reshape(len(mat), n_tables, r) @ weights  # (N, 16)
        return pd.Series(list(b))

    return buckets


# The bucket index is reused by both sides of the candidate self-join;
# persisting it avoids running the projection UDF twice. Bounded: one
# cached index per sf_dir, the previous one unpersisted on re-build —
# an unbounded persist here leaked across repeated calls and was
# measured poisoning long sessions.
_LSH_INDEX_CACHE: dict[str, DataFrame] = {}


def _lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, table_id, bucket) — the materialized LSH index. At
    100 TB this is the index table you'd write to storage partitioned
    by (table_id, bucket); here it is a persisted 3-int-column DF."""
    old = _LSH_INDEX_CACHE.pop(sf_dir, None)
    if old is not None:
        old.unpersist()
    buckets = lsh_buckets_udf()
    idx = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.posexplode(buckets(F.col("embedding"))).alias("table_id", "bucket"),
        )
        .persist()
    )
    _LSH_INDEX_CACHE[sf_dir] = idx
    return idx


def _lsh_planes_values() -> str:
    """The 96 seeded hyperplanes as a DuckDB VALUES literal (pid,
    DOUBLE[64]). ``repr(float)`` is the shortest round-trip decimal, so
    DuckDB re-materializes the IDENTICAL IEEE754 doubles the pandas UDF
    bakes into its closure — the literal-matrix trick that made
    dedup_semantic exact-oracled, applied to dense planes."""
    rows = []
    for t in range(_N_TABLES):
        tbl = _hyperplanes(_PLANES_PER_TABLE, EMBEDDING_DIM, seed=42 + t)
        for i in range(_PLANES_PER_TABLE):
            pid = t * _PLANES_PER_TABLE + i
            lst = ", ".join(repr(w) for w in tbl[i])
            rows.append(f"({pid}, CAST([{lst}] AS DOUBLE[]))")
    return ",\n".join(rows)


def _lsh_index_sql_ctes() -> str:
    """CTE chain reproducing ``_lsh_index`` bit-for-bit: the sign
    projection is a list_reduce LEFT FOLD over the dim axis — the same
    ((e1*w1 + e2*w2) + ...) order the round-12 UDF uses (an ordered
    numpy fold, not BLAS) — so every sign bit, and therefore every
    bucket id, is IEEE-identical across engines."""
    return f"""planes(pid, w) AS (VALUES {_lsh_planes_values()}),
    proj AS (
        SELECT e.vec_id, p.pid,
               list_reduce(list_transform(list_zip(e.embedding, p.w),
                   q -> CAST(q[1] AS DOUBLE) * q[2]), (x, y) -> x + y)
                   AS d
        FROM embeddings e CROSS JOIN planes p
    ),
    lsh_index AS (
        SELECT vec_id,
               CAST(pid // {_PLANES_PER_TABLE} AS BIGINT) AS table_id,
               CAST(SUM(CASE WHEN d > 0
                        THEN 1 << (pid % {_PLANES_PER_TABLE})
                        ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY 1, 2
    )"""


@query(
    "sim_lsh_bucket_index",
    f"""
    WITH {_lsh_index_sql_ctes()}
    SELECT vec_id, table_id, bucket FROM lsh_index
    ORDER BY vec_id, table_id
    """,
)
def sim_lsh_bucket_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized LSH index (vec_id, table_id, bucket) as a
    first-class EXACT-ORACLE query (round 12, VERDICT r11 item 6): at
    100 TB this 3-int-column table is what you write to storage
    partitioned by (table_id, bucket), so its correctness deserves a
    hash-match, not a rows-only wave-through. Exactness: the random
    planes are plan literals on both engines (repr round-trip) and the
    projection is an ordered left fold on both — every sign bit is
    IEEE-identical, making the bucket ints exact integers.

    Scale: one narrow Arrow-batched projection pass, no shuffle; the
    ORDER BY is presentation-only."""
    return (
        _lsh_index(spark, sf_dir)
        .select(
            "vec_id",
            F.col("table_id").cast("bigint").alias("table_id"),
            F.col("bucket").cast("bigint").alias("bucket"),
        )
        .orderBy("vec_id", "table_id")
    )


@query(
    "sim_ann_lsh",
    f"""
    WITH {_lsh_index_sql_ctes()},
    q AS (
        SELECT vec_id AS query_id, table_id, bucket
        FROM lsh_index WHERE vec_id < 30
    ),
    pairs AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM q JOIN lsh_index c USING (table_id, bucket)
        WHERE q.query_id <> c.vec_id
    ),
    scored AS (
        SELECT p.query_id, p.neighbor_id,
               {_DUCK_DOT.format(a="qe.embedding", b="ce.embedding")}
                   AS dot
        FROM pairs p
        JOIN embeddings qe ON qe.vec_id = p.query_id
        JOIN embeddings ce ON ce.vec_id = p.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_k,
           CAST(FLOOR(dot * 10000) AS BIGINT) AS cosine_e4
    FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id ASC)
                   AS rank_k
        FROM scored
    ) WHERE rank_k <= 3
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via multi-table random-hyperplane LSH: every
    vector is bucketed into 16 independent tables, candidates =
    vectors sharing a (table, bucket) cell with the query, exact dot
    re-ranks candidates, top-3 per query. EXACT-ORACLED since round 12
    (was rows-only r4-r11): approximate-vs-true-NN does not mean
    nondeterministic — with literal planes and ordered-fold
    projections the whole candidate set, re-rank and top-3 are
    bit-reproducible in DuckDB (VERDICT r11 item 6; the
    dedup_semantic precedent). Recall vs sim_topk_exact additionally
    asserted in tests/test_llm.py.

    Scale: bucketing is a narrow map (no shuffle); candidates come
    from an equi-join on (table_id, bucket) — hash join, no cross
    product — and the exact re-rank touches only candidates. The
    candidate pair-dedup runs on the two id columns alone (deduping
    rows that carry the embedding arrays hashes 128 floats per pair —
    measured cost, not hypothetical); embeddings re-attach by id
    afterwards. Recall ↑ by adding tables (linear cost), precision ↑
    by adding planes."""
    idx = _lsh_index(spark, sf_dir)
    q = idx.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    c = idx.select(F.col("vec_id").alias("neighbor_id"), "table_id", "bucket")
    pairs = (
        q.join(c, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # a pair may collide in several tables — score once
    )
    emb = load(spark, sf_dir, "embeddings")
    qe = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    ce = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        pairs.join(qe, "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "rank_k",
            F.floor(F.col("dot") * 10000).cast("bigint").alias("cosine_e4"),
        )
    )


@query(
    "embed_centroids",
    """
    WITH flat AS (
        SELECT label, vec_id,
               unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ), centroid AS (
        SELECT label, pos, AVG(CAST(val AS DOUBLE)) AS c
        FROM flat GROUP BY label, pos
    )
    SELECT f.vec_id, f.label,
           ROUND(SUM((CAST(f.val AS DOUBLE) - c.c) * (CAST(f.val AS DOUBLE) - c.c)), 4)
               AS dist_sq
    FROM flat f JOIN centroid c ON f.label = c.label AND f.pos = c.pos
    GROUP BY f.vec_id, f.label
    """,
)
def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean via posexplode → avg per
    (label,pos)) and each vector's squared distance to its centroid.

    Scale: explode multiplies rows ×64 but the aggregate is partial —
    shuffle carries (label,pos) partials (640 rows/class), then the
    distance join shuffles on (label,pos): both bounded by
    |labels|×dim, independent of corpus size except the final per-vec
    re-aggregation."""
    flat = load(spark, sf_dir, "embeddings").select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("pos0", "val"),
    ).select("label", "vec_id", (F.col("pos0") + 1).alias("pos"), F.col("val").cast("double").alias("val"))
    centroid = flat.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    d = F.col("val") - F.col("c")
    return (
        flat.join(centroid, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.round(F.sum(d * d), 4).alias("dist_sq"))
    )


# IVF: k coarse cells, nprobe probed per query. At 16 cells / probe 4
# a query touches ~25% of the corpus — coarser than LSH's ~5% candidate
# rate but with *guaranteed* candidate-set size (cell sizes are
# balanced by the Lloyd step), which is the property that matters when
# sizing executor memory at 100 TB.
_IVF_CELLS = 16
_IVF_NPROBE = 4


def _ivf_ranked_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, cell, dot, rk) — every vector's cells ranked
    by dot against the FROZEN seeds (the first _IVF_CELLS vectors by
    vec_id, the quantizer sim_ivf_cell_index hash-matches): rk=1 is the
    assignment, rk<=nprobe the probe set. One broadcast 16-row dim
    crossJoin + a keyed 16-row window — no training job, no collect."""
    e = load(spark, sf_dir, "embeddings")
    w_seed = Window.orderBy("vec_id")
    seeds = (
        e.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select(
            (F.row_number().over(w_seed) - 1).alias("cell"),
            F.col("embedding").alias("s_emb"),
        )
    )
    scored = e.select("vec_id", "embedding").crossJoin(
        F.broadcast(seeds)
    ).select(
        "vec_id",
        "embedding",
        "cell",
        dot_product(F.col("embedding"), F.col("s_emb")).alias("dot"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dot").desc(), F.col("cell").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w))


@query(
    "sim_ann_ivf",
    f"""
    WITH seeds AS (
        SELECT embedding AS s_emb,
               row_number() OVER (ORDER BY vec_id) - 1 AS cell
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS})
    ), d AS (
        SELECT e.vec_id, s.cell,
               {_DUCK_DOT.format(a="e.embedding", b="s.s_emb")} AS dot
        FROM embeddings e CROSS JOIN seeds s
    ), r AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, cell ASC) AS rk
        FROM d
    ), assign AS (
        SELECT vec_id AS neighbor_id, cell FROM r WHERE rk = 1
    ), probes AS (
        SELECT vec_id AS query_id, cell
        FROM r WHERE rk <= {_IVF_NPROBE} AND vec_id < 30
    ), pairs AS (
        SELECT p.query_id, a.neighbor_id
        FROM probes p JOIN assign a USING (cell)
        WHERE p.query_id <> a.neighbor_id
    ), scored AS (
        SELECT pr.query_id, pr.neighbor_id,
               {_DUCK_DOT.format(a="qe.embedding", b="ce.embedding")} AS dot
        FROM pairs pr
        JOIN embeddings qe ON qe.vec_id = pr.query_id
        JOIN embeddings ce ON ce.vec_id = pr.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_k,
           CAST(FLOOR(dot * 10000) AS BIGINT) AS cosine_e4
    FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id ASC)
                   AS rank_k
        FROM scored
    ) WHERE rank_k <= 3
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via an inverted-file index (IVF): corpus vectors
    are partitioned into k coarse-quantizer cells; each query probes
    its nprobe nearest cells and exact-re-ranks only those cells'
    vectors. EXACT-ORACLED since round 13 (was rows-only r4–r12,
    VERDICT r12 item 4): the coarse quantizer is the FROZEN-SEED
    assignment sim_ivf_cell_index already hash-matches (seeds = the
    first k vectors by vec_id — data rows, no training state), every
    dot is the shared _DUCK_DOT left fold, and every tiebreak is
    spelled (cell ASC on assignment/probes, neighbor_id ASC on the
    re-rank) — so candidate set, re-rank and top-3 are bit-reproducible
    in DuckDB. The former Lloyd refinement was the one non-SQL-statable
    step (cross-partition float means); measured recall without it is
    0.81 at sf0.1 vs the 0.70 floor with BETTER-balanced cells on this
    fixture (105–148 members per cell), so the refinement bought
    nothing here — recall vs sim_topk_exact stays asserted in
    tests/test_llm.py.

    Scale: this is the complement of sim_ann_lsh. The cell assignment
    is a broadcast 16-row dim join + a keyed 16-row window (no
    training job, no collect — the plan is now auditable end-to-end);
    candidate retrieval is an equi-join on cell id (hash join, no
    cross product). Candidate volume is bounded a priori at nprobe/k
    of the corpus, and at 100 TB the cell column is the natural
    *partition key* for the corpus at rest — probing nprobe cells
    becomes partition pruning, reading nothing else. Recall ↑ with
    nprobe (linear cost)."""
    ranked = _ivf_ranked_cells(spark, sf_dir)
    assign = ranked.filter(F.col("rk") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "cell",
    )
    probes = ranked.filter(
        (F.col("vec_id") < 30) & (F.col("rk") <= _IVF_NPROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "cell",
    )
    scored = (
        probes.join(assign, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "rank_k",
            F.floor(F.col("dot") * 10000).cast("bigint").alias("cosine_e4"),
        )
    )


@query(
    "sim_ivf_cell_index",
    f"""
    WITH seeds AS (
        SELECT embedding AS s_emb,
               row_number() OVER (ORDER BY vec_id) - 1 AS cell
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS})
    ), d AS (
        SELECT e.vec_id, s.cell,
               {_DUCK_DOT.format(a="e.embedding", b="s.s_emb")} AS dot
        FROM embeddings e CROSS JOIN seeds s
    ), r AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, cell ASC) AS rk
        FROM d
    )
    SELECT vec_id, CAST(cell AS BIGINT) AS cell
    FROM r WHERE rk = 1 ORDER BY vec_id
    """,
)
def sim_ivf_cell_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF round-0 cell assignment under the FROZEN seeds (the first
    k vectors by vec_id) as a first-class EXACT-ORACLE query (round
    12, VERDICT r11 item 6): the cell id is the at-rest partition key
    of the corpus in a real IVF deployment, so the assignment rule
    itself gets a hash-match. Since round 13 sim_ann_ivf runs on this
    same frozen-seed quantizer end-to-end (the Lloyd refinement —
    cross-partition float means, not bit-stable — was dropped after
    measuring it bought no recall on this fixture), so the whole IVF
    family is exact-oracled.

    Exactness: seeds are data rows (no literals needed); each dot is
    the shared left-fold (_DUCK_DOT parity proven since sim_topk_exact
    r3); argmax = row_number over (dot DESC, cell ASC) — numpy
    argmax's first-max tiebreak spelled as SQL.

    Scale: a broadcast k-row dim × corpus join (k=16 — the IVF coarse
    quantization cost, linear fan-out bounded a priori), one keyed
    top-1 WindowGroupLimit; no global shuffle."""
    e = load(spark, sf_dir, "embeddings")
    w_seed = Window.orderBy("vec_id")
    seeds = (
        e.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select(
            (F.row_number().over(w_seed) - 1).alias("cell"),
            F.col("embedding").alias("s_emb"),
        )
    )
    scored = e.select("vec_id", "embedding").crossJoin(
        F.broadcast(seeds)
    ).select(
        "vec_id",
        "cell",
        dot_product(F.col("embedding"), F.col("s_emb")).alias("dot"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dot").desc(), F.col("cell").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("cell").cast("bigint").alias("cell"))
        .orderBy("vec_id")
    )


@query(
    "embed_quantize_int8",
    """
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
    )
    SELECT vec_id, scale,
           array_to_string(list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE)
                          / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)
                          * 127 + 0.5) AS BIGINT)), ',') AS q
    FROM s
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    storage/serving scale move (4× smaller vectors, SIMD-friendly
    dot products downstream): per-vector absmax scale, each component
    mapped to round-half-up(v/scale*127).

    Determinism across engines: every component is cast float32 →
    double BEFORE any arithmetic so both sides run identical IEEE64
    ops, and round-half-up is spelled floor(x+0.5) — no banker's
    rounding divergence (round-1 FLOOR discipline). Fully narrow:
    per-row HOF array math, no shuffle, no UDF. The quantized vector
    is emitted ','-joined — array cells crash the driver's pandas
    sort (r2 lesson)."""
    return quantize_int8_frame(load(spark, sf_dir, "embeddings"))


def quantize_int8_frame(e: DataFrame) -> DataFrame:
    """Parameterized quantize core (embed_quantize_int8's body) so
    embedding_pipeline can run it over its survivor set."""
    emb = F.col("embedding")
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    with_scale = e.select("vec_id", "embedding", scale.alias("scale"))
    safe = F.when(F.col("scale") == 0.0, F.lit(1.0)).otherwise(F.col("scale"))
    return with_scale.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform(
                emb,
                lambda x: F.floor(x.cast("double") / safe * 127 + 0.5)
                .cast("bigint")
                .cast("string"),
            ),
            ",",
        ).alias("q"),
    )


_PCA_FIT_IDS = 256  # frozen fit sample: vec_id < 256 at every SF
_PCA_Q = 1_000_000_000.0  # e9 coordinate quantization (floored)
_PCA_E6 = 10**6  # renormalization fixed point
_PCA_T = 6  # matrix squarings: M tracks C^(2^T) = C^64
_PCA_KV = 4  # PC1 matvec iterations (effective C^256)
_PCA_KO = 6  # PC2 deflated iterations (effective C^384)


def _pca_power_fit(qrows: list[list[int]]) -> tuple[int, list[int], list[int], list[int]]:
    """Exact-integer top-2 PCA fit on the quantized sample — the
    Python-int mirror of the DuckDB oracle's CTE chain (arbitrary-
    precision ints ≡ HUGEINT for these magnitudes, and // is the same
    floor division the oracle spells with the double-mod residue
    formula).  Returns (n, column-sums s, PC1 u, PC2 u2); u/u2 are e6
    fixed-point integer directions, sign-pinned at the first index of
    the max |component|."""
    if not qrows:
        raise ValueError(
            "embed_pca frozen-sample contract: no fit rows (vec_id < "
            f"{_PCA_FIT_IDS}) — the fixture must provide a non-empty, "
            "non-constant sample or the e6 renormalizations divide by 0"
        )
    dim = len(qrows[0])
    n = len(qrows)
    s = [sum(r[j] for r in qrows) for j in range(dim)]
    g = [[sum(r[i] * r[j] for r in qrows) for j in range(dim)] for i in range(dim)]
    # n²·covariance = n·G − s·sᵀ: exact integers, same eigenvectors.
    c = [[n * g[i][j] - s[i] * s[j] for j in range(dim)] for i in range(dim)]

    def renorm_vec(w: list[int]) -> list[int]:
        m = max(abs(x) for x in w)
        if m == 0:
            raise ValueError(
                "embed_pca frozen-sample contract: degenerate (all-"
                "constant) fit sample — n²·covariance power iterate "
                "collapsed to the zero vector; the oracle's mirrored "
                "integer program would divide by zero at the same step"
            )
        return [(x * _PCA_E6) // m for x in w]

    def renorm_mat(a: list[list[int]]) -> list[list[int]]:
        m = max(abs(x) for row in a for x in row)
        if m == 0:
            raise ValueError(
                "embed_pca frozen-sample contract: all-constant fit "
                "sample (zero covariance matrix) — cannot renormalize"
            )
        return [[(x * _PCA_E6) // m for x in row] for row in a]

    def canon(v: list[int]) -> list[int]:
        mx = max(abs(x) for x in v)
        piv = next(i for i in range(dim) if abs(v[i]) == mx)
        return [-x for x in v] if v[piv] < 0 else v

    m = renorm_mat(c)
    for _ in range(_PCA_T):  # binary exponentiation: m ∝ C^(2^T)
        m = renorm_mat(
            [[sum(m[i][k] * m[k][j] for k in range(dim)) for j in range(dim)] for i in range(dim)]
        )
    v = [_PCA_E6] * dim
    for _ in range(_PCA_KV):
        v = renorm_vec([sum(m[i][j] * v[j] for j in range(dim)) for i in range(dim)])
    u = canon(v)
    uu = sum(x * x for x in u)
    w = [_PCA_E6 if j % 2 == 0 else -_PCA_E6 for j in range(dim)]
    for _ in range(_PCA_KO):  # deflation: integer Gram-Schmidt vs u each step
        w = renorm_vec([sum(m[i][j] * w[j] for j in range(dim)) for i in range(dim)])
        vu = sum(w[j] * u[j] for j in range(dim))
        w = renorm_vec([uu * w[j] - vu * u[j] for j in range(dim)])
    return n, s, u, canon(w)


def _pca_oracle_sql() -> str:
    """Generate the unrolled DuckDB oracle for embed_pca: the same
    frozen-sample integer power iteration, as ~60 flat CTEs over an
    (i, j, val) HUGEINT matrix table.  Every renormalization is the
    exact floor division ((x·10⁶) − canonical_residue) // m, bit-equal
    to Python's // for positive m."""
    dim1 = 65  # range upper bound (1-based inclusive indices 1..64)

    def rnv(src: str, out: str) -> str:
        return (
            f"{out} AS MATERIALIZED (SELECT i, ((val*1000000) - ((((val*1000000) % mm.m) + mm.m) % mm.m))"
            f" // mm.m AS val FROM {src}, (SELECT MAX(abs(val)) AS m FROM {src}) mm)"
        )

    cte = [
        "qrows AS MATERIALIZED (SELECT vec_id, list_transform(embedding,"
        f" x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_PCA_Q}) AS HUGEINT)) AS q"
        f" FROM embeddings WHERE vec_id < {_PCA_FIT_IDS})",
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM qrows)",
        "su AS MATERIALIZED (SELECT list(s ORDER BY i) AS s FROM (SELECT i, SUM(q[i]) AS s"
        f" FROM qrows, range(1, {dim1}) t(i) GROUP BY i) ss)",
        "gm AS MATERIALIZED (SELECT i, j, SUM(q[i] * q[j]) AS g"
        f" FROM qrows, range(1, {dim1}) ti(i), range(1, {dim1}) tj(j) GROUP BY i, j)",
        "cp AS MATERIALIZED (SELECT gm.i AS i, gm.j AS j,"
        " nn.n * gm.g - su.s[gm.i] * su.s[gm.j] AS val FROM gm, nn, su)",
        "c0 AS MATERIALIZED (SELECT i, j, ((val*1000000) - ((((val*1000000) % mm.m) + mm.m) % mm.m))"
        " // mm.m AS val FROM cp, (SELECT MAX(abs(val)) AS m FROM cp) mm)",
    ]
    for t in range(1, _PCA_T + 1):
        cte.append(
            f"s{t} AS MATERIALIZED (SELECT a.i AS i, b.j AS j, SUM(a.val * b.val) AS val"
            f" FROM c{t-1} a, c{t-1} b WHERE a.j = b.i GROUP BY a.i, b.j)"
        )
        cte.append(
            f"c{t} AS MATERIALIZED (SELECT i, j, ((val*1000000) - ((((val*1000000) % mm.m) + mm.m) % mm.m))"
            f" // mm.m AS val FROM s{t}, (SELECT MAX(abs(val)) AS m FROM s{t}) mm)"
        )
    top = f"c{_PCA_T}"
    cte.append(
        f"v0 AS MATERIALIZED (SELECT i, CAST({_PCA_E6} AS HUGEINT) AS val FROM range(1, {dim1}) t(i))"
    )
    for k in range(1, _PCA_KV + 1):
        cte.append(
            f"w{k} AS MATERIALIZED (SELECT {top}.i AS i, SUM({top}.val * v{k-1}.val) AS val"
            f" FROM {top}, v{k-1} WHERE {top}.j = v{k-1}.i GROUP BY {top}.i)"
        )
        cte.append(rnv(f"w{k}", f"v{k}"))
    last = f"v{_PCA_KV}"
    cte.append(
        f"upiv AS MATERIALIZED (SELECT val AS pv FROM {last}"
        f" WHERE abs(val) = (SELECT MAX(abs(val)) FROM {last}) ORDER BY i LIMIT 1)"
    )
    cte.append(
        f"u AS MATERIALIZED (SELECT i, CASE WHEN upiv.pv < 0 THEN -val ELSE val END AS val"
        f" FROM {last}, upiv)"
    )
    cte.append("uu AS MATERIALIZED (SELECT SUM(val * val) AS uu FROM u)")
    cte.append(
        f"o0 AS MATERIALIZED (SELECT i, CAST(CASE WHEN i % 2 = 1 THEN {_PCA_E6}"
        f" ELSE -{_PCA_E6} END AS HUGEINT) AS val FROM range(1, {dim1}) t(i))"
    )
    for k in range(1, _PCA_KO + 1):
        cte.append(
            f"a{k} AS MATERIALIZED (SELECT {top}.i AS i, SUM({top}.val * o{k-1}.val) AS val"
            f" FROM {top}, o{k-1} WHERE {top}.j = o{k-1}.i GROUP BY {top}.i)"
        )
        cte.append(rnv(f"a{k}", f"an{k}"))
        cte.append(
            f"vu{k} AS MATERIALIZED (SELECT SUM(an{k}.val * u.val) AS vu FROM an{k}, u"
            f" WHERE an{k}.i = u.i)"
        )
        cte.append(
            f"d{k} AS MATERIALIZED (SELECT an{k}.i AS i, uu.uu * an{k}.val - vu{k}.vu * u.val AS val"
            f" FROM an{k}, u, uu, vu{k} WHERE an{k}.i = u.i)"
        )
        cte.append(rnv(f"d{k}", f"o{k}"))
    olast = f"o{_PCA_KO}"
    cte.append(
        f"u2piv AS MATERIALIZED (SELECT val AS pv FROM {olast}"
        f" WHERE abs(val) = (SELECT MAX(abs(val)) FROM {olast}) ORDER BY i LIMIT 1)"
    )
    cte.append(
        f"u2 AS MATERIALIZED (SELECT i, CASE WHEN u2piv.pv < 0 THEN -val ELSE val END AS val"
        f" FROM {olast}, u2piv)"
    )
    cte.append("ul AS MATERIALIZED (SELECT list(val ORDER BY i) AS v FROM u)")
    cte.append("u2l AS MATERIALIZED (SELECT list(val ORDER BY i) AS v FROM u2)")
    # VARCHAR output: pc values can exceed bigint (64 terms x ~5e17),
    # and DECIMAL/HUGEINT columns are driver-hash-unsafe (helpers.py) —
    # exact decimal digits are the shared wire format.
    proj = (
        "CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(e.qe,"
        " (x, i) -> (nn.n * x - su.s[i]) * {vec}.v[i])), (a, b) -> a + b)"
        " AS VARCHAR)"
    )
    return (
        "WITH " + ", ".join(cte) + " SELECT e.vec_id, e.label, "
        + proj.format(vec="ul") + " AS pc1, "
        + proj.format(vec="u2l") + " AS pc2"
        + " FROM (SELECT vec_id, label, list_transform(embedding,"
        f" x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_PCA_Q}) AS HUGEINT)) AS qe"
        " FROM embeddings) e, nn, su, ul, u2l"
    )


@query("embed_pca", _pca_oracle_sql())
def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA projection with an EXACT DuckDB oracle (the r13→r14
    rows-only flip, VERDICT r13 item 2), built the way PCA has to work
    at 100 TB: the fit runs on a frozen bounded sample, the projection
    is a narrow full-corpus scan.

    Frozen-sample fit (the sim_ann_ivf frozen-seed discipline):
    vectors with vec_id < 256 — a deterministic, SF-stable sample both
    engines state identically — are e9-floor-quantized JVM-side and
    collected (bounded: ≤256 rows × 64 ints).  The driver then runs
    EXACT integer algebra only (`_pca_power_fit`): n²·covariance
    C = n·G − s·sᵀ (integer, eigenvectors unchanged by the n² scale),
    e6 renormalization by floor division, T=6 matrix squarings
    (binary-exponentiated power iteration — M ∝ C^64 direction-wise),
    KV=4 matvec steps for PC1 (≡ C^256) and KO=6 integer-Gram-Schmidt-
    deflated steps for PC2, signs pinned at the first max-|·| index.
    Because every step is arbitrary-precision integer arithmetic with
    shared floor-division semantics, the DuckDB oracle
    (`_pca_oracle_sql`, ~60 flat CTEs over an (i, j, HUGEINT) matrix
    table) reproduces u/u2 BIT-FOR-BIT — no float ever enters the fit,
    so there is no rounding chain to align, only one integer program
    stated twice.  tests/test_llm.py keeps the numpy referee: both
    recovered directions cosine-match eigh's top-2 eigenvectors of the
    same integer matrix to ≥0.999 at every shipped SF.

    The projection pc_k = Σ_j (n·q_j − s_j)·u_kj is exact-integer too
    (terms ≤ ~5·10¹⁷ fit bigint; the fold accumulates in
    decimal(38,0) ↔ HUGEINT, the shared-accumulator discipline), and
    is pure narrow zip_with/aggregate JVM math over the corpus — no
    shuffle, no UDF, no Python hop in the hot path; at 100 TB the fit
    cost is constant and the scan parallelizes embarrassingly."""
    e = load(spark, sf_dir, "embeddings")
    qcol = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(_PCA_Q)).cast("long"),
    )
    fit = (
        e.filter(F.col("vec_id") < _PCA_FIT_IDS).select(qcol.alias("q")).collect()
    )  # bounded: frozen ≤256-row fit sample (the IVF seed-pull rule)
    n, s, u, u2 = _pca_power_fit([list(r["q"]) for r in fit])

    s_arr = F.array(*[F.lit(int(v)) for v in s])
    centered = F.zip_with(qcol, s_arr, lambda x, sj: F.lit(n) * x - sj)

    def proj(vec: list[int]):
        v_arr = F.array(*[F.lit(int(c)) for c in vec])
        return F.aggregate(
            F.zip_with(centered, v_arr, lambda c, vj: (c * vj).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, t: acc + t,
        )

    return e.select(
        "vec_id",
        "label",
        proj(u).cast("string").alias("pc1"),
        proj(u2).cast("string").alias("pc2"),
    )


@query(
    "embed_quality_gate",
    f"""
    SELECT vec_id, n_dims, n_nan,
           CASE WHEN n_nan > 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(FLOOR(sqrt(ss) * 10000) AS BIGINT) END AS norm_e4,
           (n_dims = {EMBEDDING_DIM} AND n_nan = 0
            AND CASE WHEN n_nan > 0 THEN 0
                     ELSE CAST(FLOOR(sqrt(ss) * 10000) AS BIGINT) END
                BETWEEN 9000 AND 11000) AS passed
    FROM (
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS n_dims,
               CAST(len(list_filter(embedding, x -> isnan(x))) AS INT) AS n_nan,
               list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   (a, b) -> a + b) AS ss
        FROM embeddings
    )
    """,
)
def embed_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA gate — the validation pass that must run BEFORE
    any ANN index or semantic-dedup stage consumes a vector column at
    scale: a single NaN poisons every dot product it touches, a
    zero/degenerate norm breaks cosine, and a wrong dimensionality
    crashes the Arrow matmul kernels. Emits per-vector diagnostics
    (dim, NaN count, e4-floored L2 norm) plus the pass verdict.

    Pure narrow projection — higher-order functions only, no shuffle,
    no UDF; at 100 TB this runs as a side-effect-free column scan and
    the `passed` predicate pushes straight into downstream filters.
    Float determinism: squares are folded LEFT-TO-RIGHT with a 0.0
    seed in both engines (array order is pinned, so the IEEE64 op
    sequence is bit-identical — the agg_entropy discipline), making
    floor(·10⁴) safe to hash. A NaN cell poisons the fold to NaN,
    and the engines disagree on casting NaN to integer (Spark → 0,
    DuckDB → conversion ERROR), so norm_e4 is DEFINED as 0 whenever
    n_nan > 0 — explicitly, in both engines."""
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    ss = F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)
    n_nan = F.size(F.filter("embedding", F.isnan)).cast("int")
    gated = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size("embedding").cast("int").alias("n_dims"),
        n_nan.alias("n_nan"),
        F.when(n_nan > 0, F.lit(0))
        .otherwise(F.floor(F.sqrt(ss) * 10000))
        .cast("bigint")
        .alias("norm_e4"),
    )
    return gated.withColumn(
        "passed",
        (F.col("n_dims") == EMBEDDING_DIM)
        & (F.col("n_nan") == 0)
        & F.col("norm_e4").between(9000, 11000),
    )


@query(
    "embed_knn_graph",
    f"""
    WITH sub AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
    ), scored AS (
        SELECT q.vec_id AS src, c.vec_id AS dst,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} AS dot
        FROM sub q JOIN sub c ON q.vec_id != c.vec_id
    ), ranked AS (
        SELECT src, dst, dot,
               row_number() OVER (PARTITION BY src
                                  ORDER BY dot DESC, dst ASC) AS rk
        FROM scored
    ), knn AS (
        SELECT src, dst, dot FROM ranked WHERE rk <= 5
    )
    SELECT a.src AS src, a.dst AS dst,
           CAST(FLOOR(a.dot * 10000) AS BIGINT) AS cosine_e4
    FROM knn a JOIN knn b ON b.src = a.dst AND b.dst = a.src
    WHERE a.src < a.dst
    """,
)
def embed_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph construction (round 5): undirected edges
    where BOTH endpoints rank each other in their top-5 cosine
    neighbors — the graph semantic-clustering, manifold methods
    (UMAP/spectral), and graph-based dedup all start from. Mutuality
    is the standard symmetrization that kills hub-induced false edges
    (a hub lands in everyone's top-k; mutual requires reciprocation).

    Shape: directed top-k per node (WindowGroupLimit — the running
    per-partition limit, no full rank materialization) → one self
    equi-join on the REVERSED id pair keeps reciprocated edges, `src <
    dst` emits each undirected edge once. Edge weight is the shared
    exact dot (unit-norm fixtures ⇒ cosine), floored e4 in the single
    double expression both engines share.

    Scale: the bounded subset stands in for the ANN-candidate stage —
    at 100 TB the directed top-k comes from sim_ann_lsh/ivf candidate
    re-ranking (never corpus×corpus, the documented anti-pattern), and
    this operator is exactly the mutualization pass over that
    candidate table: one shuffle on the edge key, output sized
    ≤ k·|nodes|."""
    sub = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    q = sub.select(F.col("vec_id").alias("src"), F.col("embedding").alias("q_emb"))
    c = sub.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("c_emb"))
    scored = q.join(c, F.col("src") != F.col("dst")).select(
        "src", "dst", dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot")
    )
    w = Window.partitionBy("src").orderBy(F.col("dot").desc(), F.col("dst").asc())
    knn = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("src", "dst", "dot")
    )
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        knn.join(rev, ["src", "dst"], "left_semi")
        .filter(F.col("src") < F.col("dst"))
        .select(
            "src",
            "dst",
            F.floor(F.col("dot") * 10000).cast("bigint").alias("cosine_e4"),
        )
    )


@query(
    "embed_matryoshka_truncate",
    f"""
    WITH sub AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 60
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_DUCK_DOT.format(a="a.embedding", b="b.embedding")} AS dot_full,
               {_DUCK_DOT.format(a="a.embedding[1:16]", b="b.embedding[1:16]")}
                   AS dot16,
               sqrt({_DUCK_DOT.format(a="a.embedding[1:16]",
                                      b="a.embedding[1:16]")}) AS na,
               sqrt({_DUCK_DOT.format(a="b.embedding[1:16]",
                                      b="b.embedding[1:16]")}) AS nb
        FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           CAST(FLOOR(dot_full * 10000) AS BIGINT) AS cos_full_e4,
           CAST(FLOOR(dot16 / (na * nb) * 10000) AS BIGINT) AS cos16_e4,
           abs(CAST(FLOOR(dot_full * 10000) AS BIGINT)
               - CAST(FLOOR(dot16 / (na * nb) * 10000) AS BIGINT)) AS err_e4
    FROM pairs
    """,
)
def embed_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation fidelity audit (round 5): cosine under
    the first-16-dims prefix (re-normalized) vs the full-dimension
    cosine, per pair of a bounded sample — the measurement that
    decides whether prefix-truncated vectors (the MRL serving trick:
    4× less compute/storage for candidate generation) are safe for a
    given corpus, and at which prefix length. Fully narrow pair math:
    slice + the same left-fold dot both engines share; the
    re-normalization enters the double domain in ONE shared
    expression (dot16/(na·nb)), and the error readout stays in the
    integer domain (difference of the floored e4 values).

    Scale: the audit runs on a deterministic bounded sample (the
    standard fidelity-estimation shape); the truncation itself is a
    narrow per-row slice any consumer applies inline — no shuffle
    anywhere."""
    sub = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 60)
        .select("vec_id", "embedding")
    )
    a = sub.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = sub.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    ea16 = F.slice(F.col("ea"), 1, 16)
    eb16 = F.slice(F.col("eb"), 1, 16)
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        dot_product(F.col("ea"), F.col("eb")).alias("dot_full"),
        dot_product(ea16, eb16).alias("dot16"),
        F.sqrt(dot_product(ea16, ea16)).alias("na"),
        F.sqrt(dot_product(eb16, eb16)).alias("nb"),
    )
    full_e4 = F.floor(F.col("dot_full") * 10000).cast("bigint")
    # all-zero prefix → NULL, matching DuckDB's NULL-on-double-/0
    # (unguarded, Spark's Inf overflows the bigint cast under ANSI)
    c16_e4 = F.when(
        F.col("na") * F.col("nb") != 0.0,
        F.floor(F.col("dot16") / (F.col("na") * F.col("nb")) * 10000).cast(
            "bigint"
        ),
    )
    return pairs.select(
        "id_a",
        "id_b",
        full_e4.alias("cos_full_e4"),
        c16_e4.alias("cos16_e4"),
        F.abs(full_e4 - c16_e4).alias("err_e4"),
    )


def _pipeline_oracle() -> str:
    """The embedding_pipeline oracle COMPOSES the registered oracles of
    its stages (gate → semantic dedup → quantize), so it can never
    drift from them: the semantic-dedup SQL is re-targeted from the
    raw table to the gated CTE by name substitution (the dedup_apply
    nesting precedent, llm_dedup.py)."""
    # ensure the dedup_semantic oracle is registered even when this
    # module is imported directly (not via load_all_operators)
    import graphsense_datafeed_spark.operators.llm_dedup  # noqa: F401

    from graphsense_datafeed_spark.registry import ORACLES

    gate = ORACLES["embed_quality_gate"]
    sem = (
        ORACLES["dedup_semantic"]
        .replace("FROM embeddings", "FROM gated")
        .replace("JOIN embeddings", "JOIN gated")
    )
    return f"""
    WITH gated AS (
        SELECT e.vec_id, e.embedding
        FROM embeddings e
        JOIN ({gate}) g ON g.vec_id = e.vec_id AND g.passed
    ), survivors AS (
        SELECT vec_id, embedding FROM gated
        WHERE vec_id NOT IN (SELECT vec_id FROM ({sem}))
    ), s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM survivors
    )
    SELECT vec_id, scale,
           array_to_string(list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE)
                          / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)
                          * 127 + 0.5) AS BIGINT)), ',') AS q
    FROM s
    """


@query("embedding_pipeline", _pipeline_oracle())
def embedding_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding curation (round 5) — the composition an
    embedding-serving/training pipeline actually materializes, as ONE
    declarative plan: quality gate (drop wrong-dim/NaN/off-norm
    vectors) → semantic near-dup removal over the gated set (SemDeDup
    keeper election) → int8 quantization of the survivors. The sibling
    of corpus_pipeline on the vector side; every stage is the already
    driver-verified operator, composed by DataFrame reference, and the
    oracle nests the stages' own SQL so the WHOLE flow is hash-checked
    end-to-end.

    Scale: the gate is a narrow projection; dedup shuffles band keys
    (bounded by the count-certified bucket caps); the removal set is
    duplicates-sized so the anti-join broadcasts; quantization is
    narrow. One logical plan also means Catalyst prunes the embedding
    column through all three stages — nothing is materialized between
    them."""
    from graphsense_datafeed_spark.operators.llm_dedup import semantic_dedup_frame

    e = load(spark, sf_dir, "embeddings")
    gate = embed_quality_gate(spark, sf_dir).filter("passed").select("vec_id")
    # Round-16 (guide §2.4): gated fed FOUR consumers (the band-key
    # projection plus both exact-cosine verify sides inside
    # semantic_dedup_frame, and the survivor anti-join) — four full
    # re-evaluations of the scan + quality gate. Materialize it once;
    # |survivable vectors| x (id + 64 floats) is the natural
    # between-stages materialization a production pipeline would land
    # anyway.
    gated = (
        e.join(gate, "vec_id", "left_semi")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    removed = semantic_dedup_frame(gated).select("vec_id")
    survivors = gated.join(removed, "vec_id", "left_anti")
    return quantize_int8_frame(survivors)


# --- Product quantization (round 5 batch 7; exact-oracled round 13) ---
_PQ_M = 8          # subspaces (64-dim → 8 chunks of 8)
_PQ_K = 16         # codewords per subspace (4-bit codes)
_PQ_SHORTLIST = 96 # ADC candidates kept for the exact re-rank


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """FROZEN round-0 codebooks: subspace m's codeword k is the m-th
    8-float chunk of the k-th corpus vector by vec_id — data rows, no
    training state (the sim_ann_ivf frozen-seed discipline, round 13).
    The former 5-iteration numpy Lloyd was the one non-SQL-statable
    step (its means use numpy pairwise summation, unreproducible as a
    SQL fold); dropping it measured recall 0.82/0.84 at sf0.001/sf0.01
    with the shortlist at 96 — above both the 0.70 floor and the old
    Lloyd readings (0.79/0.82 with shortlist 64). Collected driver-side
    (16 rows) and baked into the UDF closures; float32 values kept
    exactly (float64 container), NO rounding — DuckDB slices the same
    embeddings, so both engines hold identical IEEE values."""
    e = load(spark, sf_dir, "embeddings")
    sample = np.array(
        [r.embedding for r in e.orderBy("vec_id").limit(_PQ_K).collect()],
        dtype=np.float64,
    )
    d_sub = sample.shape[1] // _PQ_M
    return np.stack(
        [sample[:, m * d_sub : (m + 1) * d_sub] for m in range(_PQ_M)]
    )  # (M, K, d_sub)


def _pq_encode_udf(books: np.ndarray):
    """array<float> → array<int> of M per-subspace argmin codes.

    d2 accumulates as an ORDERED left fold over the sub-dimension axis
    (the lsh_buckets_udf round-12 rule: numpy's .sum() is pairwise, a
    SQL list_reduce is a left fold — only the explicit loop is
    bit-identical across engines); np.argmin's first-min tiebreak is
    row_number ORDER BY d2 ASC, k ASC spelled as numpy."""
    m_, k_, d_sub = books.shape

    @F.pandas_udf("array<int>")
    def encode(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        codes = np.empty((mat.shape[0], m_), dtype=np.int32)
        for m in range(m_):
            sub = mat[:, m * d_sub : (m + 1) * d_sub]
            d2 = np.zeros((mat.shape[0], k_))
            for j in range(d_sub):
                diff = sub[:, j, None] - books[m][None, :, j]
                d2 += diff * diff
            codes[:, m] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def _pq_adc_udf(books: np.ndarray):
    """(query embedding, corpus codes) → approximate dot product:
    dot(q, reconstruction(codes)) where the reconstruction concatenates
    the M looked-up codewords — 8 codeword lookups per pair instead of
    64 float multiplies, the PQ compression payoff.

    The fold runs over all 64 positions in GLOBAL index order, so the
    result is exactly _DUCK_DOT(q.embedding, recon) — what makes the
    shortlist, and therefore the whole query, hash-matchable."""
    m_, k_, d_sub = books.shape

    @F.pandas_udf("double")
    def adc(q_embs: pd.Series, codes: pd.Series) -> pd.Series:
        q = np.stack(q_embs.to_numpy()).astype(np.float64)
        c = np.stack(codes.to_numpy()).astype(np.int64)
        recon = np.concatenate(
            [books[m][c[:, m]] for m in range(m_)], axis=1
        )  # (N, dim)
        out = np.zeros(q.shape[0])
        for j in range(q.shape[1]):
            out += q[:, j] * recon[:, j]
        return pd.Series(out)

    return adc


def _pq_oracle_sql() -> str:
    """The full PQ pipeline in DuckDB: round-0 codebooks sliced from
    the first _PQ_K embeddings, left-fold d2 encode, list-ORDER-BY
    reconstruction, _DUCK_DOT ADC scan, shortlist, exact re-rank."""
    d = EMBEDDING_DIM // _PQ_M
    sq = ("(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
          " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))")
    return f"""
    WITH seeds AS (
        SELECT embedding,
               row_number() OVER (ORDER BY vec_id) - 1 AS k
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ), cw AS (
        SELECT m.m, s.k, s.embedding[m.m * {d} + 1 : m.m * {d} + {d}] AS w
        FROM seeds s
        CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m) m
    ), enc AS (
        SELECT e.vec_id, c.m, c.k,
               list_reduce(list_transform(
                   list_zip(e.embedding[c.m * {d} + 1 : c.m * {d} + {d}],
                            c.w),
                   p -> {sq}), (x, y) -> x + y) AS d2
        FROM embeddings e CROSS JOIN cw c
    ), codes AS (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2 ASC, k ASC) AS rk
            FROM enc
        ) WHERE rk = 1
    ), recon AS (
        SELECT c.vec_id, flatten(list(w.w ORDER BY c.m)) AS r
        FROM codes c JOIN cw w ON w.m = c.m AND w.k = c.k
        GROUP BY c.vec_id
    ), adc AS (
        SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="q.embedding", b="r.r")} AS approx_dot
        FROM embeddings q CROSS JOIN recon r
        WHERE q.vec_id < 30 AND q.vec_id <> r.vec_id
    ), shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY approx_dot DESC,
                                               neighbor_id ASC) AS rk
            FROM adc
        ) WHERE rk <= {_PQ_SHORTLIST}
    ), rerank AS (
        SELECT s.query_id, s.neighbor_id,
               {_DUCK_DOT.format(a="qe.embedding", b="ce.embedding")} AS dot
        FROM shortlist s
        JOIN embeddings qe ON qe.vec_id = s.query_id
        JOIN embeddings ce ON ce.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_k,
           CAST(FLOOR(dot * 10000) AS BIGINT) AS cosine_e4
    FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id ASC)
                   AS rank_k
        FROM rerank
    ) WHERE rank_k <= 3
    """


@query("sim_ann_pq", _pq_oracle_sql())
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via product quantization (round 5 batch 7) —
    the THIRD ANN scale path next to sim_ann_lsh (hash buckets) and
    sim_ann_ivf (partition pruning): MEMORY compression. Each 64-dim
    float vector becomes M=8 4-bit codes (64 bytes → 4), queries scan
    codes with asymmetric-distance lookups (ADC), and only the
    _PQ_SHORTLIST best approximate candidates per query are exactly
    re-ranked against true embeddings for the final top-3.

    At 100 TB this is the configuration where the corpus does NOT fit
    even sharded: the code table is 16× smaller than the raw vectors
    and scans at memory bandwidth; the exact re-rank touches a
    shortlist-sized slice. Here the ADC scan is the bounded-query ×
    corpus shape of sim_topk_exact (documented brute-force baseline),
    vectorized through Arrow batches; candidate shortlisting is a
    WindowGroupLimit; the re-rank reuses the JVM-codegen dot.

    EXACT-ORACLED since round 13 (was rows-only r5–r12, VERDICT r12
    item 4): codebooks are FROZEN round-0 slices of the first _PQ_K
    corpus vectors (data rows both engines can slice — no Lloyd, whose
    numpy pairwise-summed means were the one non-SQL-statable step),
    the encode d2 and the ADC dot are ORDERED left folds matching
    DuckDB's list_reduce bit-for-bit, and every argmin/shortlist/top-3
    tiebreak is spelled. Measured recall 0.82/0.84 at sf0.001/sf0.01
    (shortlist 96) vs the 0.70 floor — above the old Lloyd readings;
    still asserted in tests/test_round5c_ops.py."""
    books = _pq_codebooks(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    encode = _pq_encode_udf(books)
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        encode(F.col("embedding")).alias("codes"),
    )
    q = e.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    adc = _pq_adc_udf(books)
    paired = q.crossJoin(corpus).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = paired.select(
        "query_id",
        "neighbor_id",
        "q_emb",
        "c_emb",
        adc(F.col("q_emb"), F.col("codes")).alias("approx_dot"),
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id").asc()
    )
    shortlist = scored.withColumn(
        "adc_rank", F.row_number().over(w_adc)
    ).filter(F.col("adc_rank") <= _PQ_SHORTLIST)
    reranked = shortlist.select(
        "query_id",
        "neighbor_id",
        dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        reranked.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "rank_k",
            F.floor(F.col("dot") * 10000).cast("bigint").alias("cosine_e4"),
        )
    )


@query(
    "embed_drift_labels",
    """
    WITH flat AS (
        SELECT label, CAST(vec_id % 2 AS BIGINT) AS half,
               generate_subscripts(embedding, 1) AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000)
                    AS BIGINT) AS v_e4
        FROM embeddings
    ), sums AS (
        SELECT label, half, pos,
               CAST(SUM(v_e4) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM flat GROUP BY 1, 2, 3
    ), paired AS (
        SELECT a.label, a.pos, a.s AS s0, a.n AS n0, b.s AS s1, b.n AS n1
        FROM sums a JOIN sums b
          ON a.label = b.label AND a.pos = b.pos
         AND a.half = 0 AND b.half = 1
    ), per_pos AS (
        SELECT label, n0, n1,
               s0 * s1 AS dot_term,
               s0 * s0 AS nrm0_term,
               s1 * s1 AS nrm1_term,
               CAST(FLOOR(
                   (CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1)
                   * (CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1)
               ) AS BIGINT) AS shift_term_e8
        FROM paired
    )
    SELECT label, MAX(n0) AS n_even, MAX(n1) AS n_odd,
           CAST(FLOOR(CAST(SUM(dot_term) AS DOUBLE)
                      / sqrt(CAST(SUM(nrm0_term) AS DOUBLE)
                             * CAST(SUM(nrm1_term) AS DOUBLE))
                      * 1000000) AS BIGINT) AS centroid_cos_e6,
           CAST(SUM(shift_term_e8) AS BIGINT) AS shift_sq_e8
    FROM per_pos GROUP BY label
    """,
)
def embed_drift_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift check (round 5 batch 8): split each
    label's vectors into two deterministic shards (vec_id parity),
    compare the shard CENTROIDS by cosine and squared mean-shift —
    the "did the embedding distribution move?" monitor run between
    two ingest batches / model versions before a similarity index is
    trusted (matching shards push cos toward 1 and shift toward 0;
    on this fixture's RANDOM unit vectors the centroids are
    near-zero-norm noise, so the readout legitimately hovers near 0 —
    the referee asserts exactness and bounds, not clustering).

    Determinism beyond embed_centroids' float AVG: components
    quantize to e4 integers ONCE, per-(label, shard, position) sums
    are exact bigints, and the centroid cosine is computed on the SUM
    vectors (cos of sums ≡ cos of means — the n's cancel), so dot and
    norms stay in exact integer arithmetic until one final double
    formula per label; the mean-shift term floors per POSITION before
    its bigint total (no 64-term float fold). e4 quantization keeps
    Σv·Σv under bigint to ~1e9 vectors per (label, shard).

    Scale: one partial-aggregatable sum keyed (label, shard, pos) —
    |labels|×2×dim rows — then label-level folds; raw vectors are
    touched exactly once."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        "label",
        (F.col("vec_id") % 2).cast("bigint").alias("half"),
        F.posexplode("embedding").alias("pos0", "val"),
    ).select(
        "label",
        "half",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 10000)
        .cast("bigint")
        .alias("v_e4"),
    )
    sums = flat.groupBy("label", "half", "pos").agg(
        F.sum("v_e4").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    a = sums.filter(F.col("half") == 0).select(
        "label", "pos", F.col("s").alias("s0"), F.col("n").alias("n0")
    )
    b = sums.filter(F.col("half") == 1).select(
        "label", "pos", F.col("s").alias("s1"), F.col("n").alias("n1")
    )
    paired = a.join(b, ["label", "pos"])
    mean_diff = (
        F.col("s0").cast("double") / F.col("n0")
        - F.col("s1").cast("double") / F.col("n1")
    )
    per_pos = paired.select(
        "label",
        "n0",
        "n1",
        (F.col("s0") * F.col("s1")).alias("dot_term"),
        (F.col("s0") * F.col("s0")).alias("nrm0_term"),
        (F.col("s1") * F.col("s1")).alias("nrm1_term"),
        F.floor(mean_diff * mean_diff).cast("bigint").alias("shift_term_e8"),
    )
    return per_pos.groupBy("label").agg(
        F.max("n0").alias("n_even"),
        F.max("n1").alias("n_odd"),
        F.floor(
            F.sum("dot_term").cast("double")
            / F.sqrt(
                F.sum("nrm0_term").cast("double")
                * F.sum("nrm1_term").cast("double")
            )
            * 1000000
        )
        .cast("bigint")
        .alias("centroid_cos_e6"),
        F.sum("shift_term_e8").cast("bigint").alias("shift_sq_e8"),
    )


@query(
    "embed_nearest_centroid_classify",
    """
    WITH flat AS (
        SELECT label, vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000)
                    AS BIGINT) AS v_e4
        FROM embeddings
    ), cents AS (
        SELECT label AS c_label, pos,
               CAST(SUM(v_e4) AS BIGINT) AS s,
               CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
        FROM flat GROUP BY 1, 2
    ), scored AS (
        SELECT f.vec_id, f.label, c.c_label,
               SUM(f.v_e4 * c.s) AS dot_num,
               MAX(c.n) AS cn
        FROM flat f JOIN cents c ON f.pos = c.pos
        GROUP BY f.vec_id, f.label, c.c_label
    ), normed AS (
        SELECT vec_id, label, c_label,
               CAST(dot_num AS DOUBLE) / cn AS score,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY CAST(dot_num AS DOUBLE) / cn DESC, c_label
               ) AS r
        FROM scored
    )
    SELECT label AS true_label, c_label AS predicted_label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM normed WHERE r = 1
    GROUP BY 1, 2
    """,
)
def embed_nearest_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification with a confusion-matrix readout
    (round 5 batch 9): every vector is assigned to the label whose
    MEAN embedding it most aligns with (dot against each centroid, all
    vectors unit-norm), and the output is the (true, predicted) count
    matrix — the sanity check run on any labeled embedding corpus
    before the labels are trusted for supervised use ("are these
    labels even separable in embedding space?"). On this fixture's
    random vectors the matrix is near-uniform — itself the readout.

    Exactness via the embed_drift_labels discipline: components
    quantize e4 ONCE, centroids live as (Σ, n) integer pairs, and the
    vector·centroid score keeps the integer dot numerator Σ(v·s)
    exact, dividing by n only in the final double whose ties pin on
    label. The argmax is a WindowGroupLimit per vector.

    Scale: |labels|×dim centroid table broadcasts; scoring is a
    pos-join + (vec, label) agg — one corpus pass, mergeable; the
    same shape classifies a 100 TB corpus against frozen centroids."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("pos0", "val"),
    ).select(
        "label",
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 10000)
        .cast("bigint")
        .alias("v_e4"),
    )
    cents = flat.groupBy(F.col("label").alias("c_label"), "pos").agg(
        F.sum("v_e4").cast("bigint").alias("s"),
        F.countDistinct("vec_id").cast("bigint").alias("n"),
    )
    scored = (
        flat.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sum(F.col("v_e4") * F.col("s")).alias("dot_num"),
            F.max("n").alias("cn"),
        )
    )
    score = F.col("dot_num").cast("double") / F.col("cn")
    w = Window.partitionBy("vec_id").orderBy(score.desc(), F.col("c_label"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .groupBy(
            F.col("label").alias("true_label"),
            F.col("c_label").alias("predicted_label"),
        )
        .agg(F.count("*").cast("bigint").alias("n_vectors"))
    )


_RP_OUT_DIM = 16


@query(
    "embed_random_projection",
    f"""
    WITH flat AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000)
                    AS BIGINT) AS v_e4
        FROM embeddings
    ), signed AS (
        SELECT f.vec_id, m.m,
               CAST(SUM(CASE WHEN
                   CAST('0x' || substr(md5(CAST(m.m AS VARCHAR) || '_'
                                       || CAST(f.pos AS VARCHAR)), 1, 7)
                       AS BIGINT) % 2 = 0
                   THEN f.v_e4 ELSE -f.v_e4 END) AS BIGINT) AS p
        FROM flat f, (SELECT unnest(range(0, {_RP_OUT_DIM})) AS m) m
        GROUP BY 1, 2
    )
    SELECT vec_id,
           string_agg(CAST(p AS VARCHAR), ',' ORDER BY m) AS proj_e4,
           CAST(FLOOR(sqrt(CAST(SUM(p * p) AS DOUBLE)
                           / {_RP_OUT_DIM}) / 10000 * 10000) AS BIGINT)
               AS norm_ratio_e4
    FROM signed GROUP BY vec_id
    """,
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 16 dims (round 5
    batch 17): each output coordinate is Σᵢ ±vᵢ with DATA-INDEPENDENT
    signs — the dimension reduction that needs no training pass at
    all (contrast embed_pca's Gram pipeline), preserves pairwise
    distances within 1±ε with high probability, and therefore
    composes with any downstream ANN or clustering without re-fitting
    as the corpus grows. The streaming-friendly reduction: a vector
    projects the moment it arrives.

    Exactness end-to-end: components quantize e4 ONCE; signs come
    from md5(outdim, position) parity — engine-portable, baked into
    the expression, reproducible forever — so every projected
    coordinate is an EXACT bigint signed sum. The output vector
    serializes ','-joined (driver-safe); norm_ratio_e4 =
    ‖proj‖/√k / ‖v‖ (unit vectors ⇒ denominator 1) is the JL
    distortion self-check the referee bounds.

    Scale: posexplode + (vec, outdim) partial agg — shuffles
    |rows|×k key-space, map-side combinable; no model state
    anywhere."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        F.posexplode("embedding").alias("pos0", "val"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 10000)
        .cast("bigint")
        .alias("v_e4"),
    )
    ms = F.explode(F.sequence(F.lit(0), F.lit(_RP_OUT_DIM - 1))).alias("m")
    sign_even = (
        md5_int(
            F.col("m").cast("string"), F.lit("_"), F.col("pos").cast("string"), digits=7
        )
        % 2
        == 0
    )
    signed = (
        flat.select("vec_id", "pos", "v_e4", ms)
        .groupBy("vec_id", "m")
        .agg(
            F.sum(
                F.when(sign_even, F.col("v_e4")).otherwise(-F.col("v_e4"))
            )
            .cast("bigint")
            .alias("p")
        )
    )
    return signed.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "p"))),
                lambda s: s.p.cast("string"),
            ),
            ",",
        ).alias("proj_e4"),
        F.floor(
            F.sqrt(
                F.sum(F.col("p") * F.col("p")).cast("double") / _RP_OUT_DIM
            )
            / 10000
            * 10000
        )
        .cast("bigint")
        .alias("norm_ratio_e4"),
    )


@query(
    "embed_centroid_topk",
    """
    WITH flat AS (
        SELECT label, vec_id,
               unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ), centroid AS (
        SELECT label AS c_label, pos, AVG(CAST(val AS DOUBLE)) AS c
        FROM flat GROUP BY label, pos
    ), dists AS (
        SELECT f.vec_id, c.c_label,
               CAST(FLOOR(SUM((CAST(f.val AS DOUBLE) - c.c)
                              * (CAST(f.val AS DOUBLE) - c.c)) * 10000)
                    AS BIGINT) AS dist_e4
        FROM flat f JOIN centroid c ON f.pos = c.pos
        GROUP BY f.vec_id, c.c_label
    )
    SELECT c_label, CAST(rnk AS BIGINT) AS rnk, vec_id, dist_e4 FROM (
        SELECT c_label, vec_id, dist_e4,
               ROW_NUMBER() OVER (PARTITION BY c_label
                                  ORDER BY dist_e4, vec_id) AS rnk
        FROM dists
    ) WHERE rnk <= 3
    """,
)
def embed_centroid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster EXEMPLARS (round 6): the 3 vectors closest to EVERY
    label centroid — across the whole corpus, not just the centroid's
    own members.  This is the artifact the centroid summary actually
    gets used for: SemDeDup-style keeper election, nearest-prototype
    audit ('which docs best represent cluster 7?'), and labeling-QA
    (an exemplar whose own label differs from the centroid's flags a
    suspect cluster).

    Shape: embed_centroids' posexplode→avg centroid build, then every
    (vector × centroid) distance via a join on POSITION only — the
    |labels|×dim centroid table is broadcast-sized (bounded by class
    count, independent of corpus), so the big side never shuffles for
    the join; distances re-aggregate per (vec_id, label), and the
    top-3 per centroid runs as a rank window that Spark executes as
    WindowGroupLimit (per-partition top-k, never a full sort —
    plan-pinned in tests/test_plans.py).  Ranking compares FLOORED-e4
    bigints with vec_id tiebreak, so a last-ulp float-sum difference
    between engines cannot flip an order.

    Scale: work is corpus × labels on the distance agg (map-side
    partial), and the final window carries only (vec, label, dist)
    triples; at 1000 classes the exemplar table is 3000 rows."""
    flat = (
        load(spark, sf_dir, "embeddings")
        .select("label", "vec_id", F.posexplode("embedding").alias("pos0", "val"))
        .select(
            "label",
            "vec_id",
            (F.col("pos0") + 1).alias("pos"),
            F.col("val").cast("double").alias("val"),
        )
    )
    centroid = (
        flat.groupBy(F.col("label").alias("c_label"), "pos")
        .agg(F.avg("val").alias("c"))
    )
    d = F.col("val") - F.col("c")
    dists = (
        flat.join(F.broadcast(centroid), "pos")
        .groupBy("vec_id", "c_label")
        .agg(F.floor(F.sum(d * d) * 10000).cast("bigint").alias("dist_e4"))
    )
    w = Window.partitionBy("c_label").orderBy("dist_e4", "vec_id")
    return (
        dists.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("c_label", "rnk", "vec_id", "dist_e4")
    )


@query(
    "embed_quantize_error",
    """
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
    ), r AS (
        SELECT vec_id, scale,
               list_transform(embedding, x ->
                   CAST(x AS DOUBLE)
                   - CAST(FLOOR(CAST(x AS DOUBLE)
                         / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)
                         * 127 + 0.5) AS BIGINT)
                     * (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)
                     / 127.0) AS errs
        FROM s
    ), e2 AS (
        SELECT vec_id, scale, len(errs) AS dim,
               list_transform(errs, e -> e * e) AS errs2,
               list_max(list_transform(errs, e -> abs(e))) AS max_abs
        FROM r
    )
    SELECT vec_id,
           CAST(FLOOR(list_reduce(errs2, (a, b) -> a + b)
                      / dim * 1000000000) AS BIGINT) AS mse_e9,
           CAST(FLOOR(max_abs * 1000000) AS BIGINT) AS max_err_e6
    FROM e2
    """,
)
def embed_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization DISTORTION audit (round 6): per-vector
    reconstruction error of the embed_quantize_int8 path — mean
    squared error and worst component error after the int8 round
    trip (v → round(v/scale·127) → back).  The number that decides
    whether 4× compression is safe for a given corpus BEFORE serving
    switches to quantized dot products; embedding_pipeline gates on
    norms, this gates the compression itself.

    Parity discipline: every component casts float32→double before
    arithmetic; quantize spells round-half-up as floor(x+0.5); the
    reconstruction expression runs in the oracle's literal order; and
    the MSE fold is the ts_ewma seeding trick (DuckDB list_reduce
    seeds with element 1, Spark seeds F.aggregate the same way) so
    the IEEE64 sum sequence is bit-identical.  One double division +
    floor at the very end.

    Scale: narrow per-row HOF math — no shuffle, no UDF; the rollup
    (p99 of mse over the corpus) is one more partial agg on top."""
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    s = e.select("vec_id", "embedding", scale.alias("scale"))
    safe = F.when(F.col("scale") == 0.0, F.lit(1.0)).otherwise(F.col("scale"))

    def recon_err(x):
        q = F.floor(x.cast("double") / safe * 127 + 0.5).cast("bigint")
        return x.cast("double") - q * safe / F.lit(127.0)

    r = s.select(
        "vec_id", "scale", F.transform(emb, recon_err).alias("errs")
    )
    e2 = r.select(
        "vec_id",
        F.size("errs").alias("dim"),
        F.transform(F.col("errs"), lambda e_: e_ * e_).alias("errs2"),
        F.array_max(F.transform(F.col("errs"), lambda e_: F.abs(e_))).alias(
            "max_abs"
        ),
    )
    folded = F.aggregate(
        F.slice(F.col("errs2"), 2, F.greatest(F.size("errs2") - 1, F.lit(0))),
        F.element_at(F.col("errs2"), 1),
        lambda a, x: a + x,
    )
    return e2.select(
        "vec_id",
        F.floor(folded / F.col("dim") * 1000000000)
        .cast("bigint")
        .alias("mse_e9"),
        F.floor(F.col("max_abs") * 1000000).cast("bigint").alias("max_err_e6"),
    )


@query(
    "embed_silhouette_simplified",
    """
    WITH flat AS (
        SELECT label, vec_id,
               unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ), centroid AS (
        SELECT label AS c_label, pos, AVG(CAST(val AS DOUBLE)) AS c
        FROM flat GROUP BY label, pos
    ), dists AS (
        SELECT f.vec_id, f.label, c.c_label,
               CAST(FLOOR(SUM((CAST(f.val AS DOUBLE) - c.c)
                              * (CAST(f.val AS DOUBLE) - c.c)) * 10000)
                    AS BIGINT) AS dist_e4
        FROM flat f JOIN centroid c ON f.pos = c.pos
        GROUP BY f.vec_id, f.label, c.c_label
    ), ab AS (
        SELECT vec_id, label,
               MIN(CASE WHEN c_label = label THEN dist_e4 END) AS a,
               MIN(CASE WHEN c_label <> label THEN dist_e4 END) AS b
        FROM dists GROUP BY vec_id, label
    ), sil AS (
        SELECT label,
               CAST(FLOOR((CAST(b AS DOUBLE) - a)
                          / GREATEST(CAST(a AS DOUBLE), CAST(b AS DOUBLE))
                          * 1000000) AS BIGINT) AS s_e6
        FROM ab WHERE GREATEST(a, b) > 0
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(FLOOR(CAST(SUM(s_e6) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS mean_sil_e6
    FROM sil GROUP BY label
    """,
)
def embed_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per cluster (round 6): for every vector,
    a = distance to its OWN label centroid, b = distance to the
    NEAREST other centroid, s = (b−a)/max(a,b) — the clustering-QA
    number that tells you whether a label partition is real structure
    or wishful thinking (s→1 tight/separated, s≈0 boundary, s<0
    misassigned), at centroid cost O(n·k) instead of the classic
    silhouette's O(n²) pairwise bill — the variant that actually runs
    at corpus scale.

    Shares embed_centroid_topk's machinery verbatim: posexplode→avg
    centroids (broadcast-sized), distance re-aggregation per
    (vec, centroid), then a/b by conditional MIN over floored-e4
    bigint distances (so the min and the comparison are exact), each
    vector's s floored-once to e6, and the per-label mean one exact
    bigint sum + one floored division.

    Scale: corpus × labels distance agg (map-side partial), |labels|
    result rows; the per-label mean is incrementally mergeable."""
    flat = (
        load(spark, sf_dir, "embeddings")
        .select("label", "vec_id", F.posexplode("embedding").alias("pos0", "val"))
        .select(
            "label",
            "vec_id",
            (F.col("pos0") + 1).alias("pos"),
            F.col("val").cast("double").alias("val"),
        )
    )
    centroid = flat.groupBy(F.col("label").alias("c_label"), "pos").agg(
        F.avg("val").alias("c")
    )
    dd = F.col("val") - F.col("c")
    dists = (
        flat.join(F.broadcast(centroid), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.floor(F.sum(dd * dd) * 10000).cast("bigint").alias("dist_e4"))
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.min(
            F.when(F.col("c_label") == F.col("label"), F.col("dist_e4"))
        ).alias("a"),
        F.min(
            F.when(F.col("c_label") != F.col("label"), F.col("dist_e4"))
        ).alias("b"),
    )
    s_e6 = F.floor(
        (F.col("b").cast("double") - F.col("a"))
        / F.greatest(F.col("a").cast("double"), F.col("b").cast("double"))
        * 1000000
    ).cast("bigint")
    sil = ab.filter(F.greatest("a", "b") > 0).select(
        "label", s_e6.alias("s_e6")
    )
    return sil.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.floor(F.sum("s_e6").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("mean_sil_e6"),
    )


# DCG gain constants floor(1e9 / log2(rank+1)) for ranks 1..5, and the
# ideal-DCG prefix sums — precomputed ONCE and embedded as integer
# literals in BOTH engines so no log/float ever runs at query time.
_DCG_E9 = (1000000000, 630929753, 500000000, 430676558, 386852807)
_IDCG_E9 = (0, 1000000000, 1630929753, 2130929753, 2561606311, 2948459118)


@query(
    "embed_retrieval_ndcg",
    f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               c.vec_id AS neighbor_id, c.label AS c_label,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} AS dot
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 30
    ), top5 AS (
        SELECT query_id,
               CASE WHEN q_label = c_label THEN 1 ELSE 0 END AS rel,
               rank_k
        FROM (
            SELECT query_id, q_label, c_label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dot DESC, neighbor_id ASC)
                       AS rank_k
            FROM scored
        ) WHERE rank_k <= 5
    ), agg AS (
        SELECT query_id,
               CAST(SUM(rel) AS BIGINT) AS n_rel,
               CAST(SUM(rel * CASE rank_k
                   WHEN 1 THEN {_DCG_E9[0]} WHEN 2 THEN {_DCG_E9[1]}
                   WHEN 3 THEN {_DCG_E9[2]} WHEN 4 THEN {_DCG_E9[3]}
                   ELSE {_DCG_E9[4]} END) AS BIGINT) AS dcg_e9
        FROM top5 GROUP BY query_id
    )
    SELECT query_id, n_rel, dcg_e9,
           CASE WHEN n_rel = 0 THEN 0 ELSE
               CAST(FLOOR(CAST(dcg_e9 AS DOUBLE)
                   / CASE n_rel
                       WHEN 1 THEN {_IDCG_E9[1]} WHEN 2 THEN {_IDCG_E9[2]}
                       WHEN 3 THEN {_IDCG_E9[3]} WHEN 4 THEN {_IDCG_E9[4]}
                       ELSE {_IDCG_E9[5]} END
                   * 1000000) AS BIGINT) END AS ndcg_e6
    FROM agg
    """,
)
def embed_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality EVAL — nDCG@5 with label relevance (round 6):
    sim_topk_exact produces rankings; this scores them.  A neighbor is
    relevant iff it shares the query's label; DCG discounts relevance
    by log2(rank+1); nDCG normalizes by the ideal ordering of the same
    relevance multiset — the standard ranking-eval the ANN family's
    recall tests approximate from the other side (recall asks 'did the
    candidates survive', nDCG asks 'did the ORDER put relevant items
    first').

    Zero floats until the final division: the five per-rank gains are
    floor(1e9/log2(rank+1)) precomputed ONCE and embedded as integer
    literals in both engines (no engine evaluates a log), DCG is an
    exact bigint dot product of {{0,1}} relevance with those literals,
    ideal DCG is a literal prefix-sum lookup on the relevant count,
    and nDCG is one floored division.

    Scale: same bounded queries × corpus re-rank stage as
    sim_topk_exact (WindowGroupLimit top-5); the eval adds one
    |queries|-row aggregate — at 100 TB this scores ANN candidate
    rankings instead, same shape."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    scored = q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "q_label",
        "c_label",
        "neighbor_id",
        dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    top5 = (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= 5)
        .select(
            "query_id",
            F.when(F.col("q_label") == F.col("c_label"), 1)
            .otherwise(0)
            .alias("rel"),
            "rank_k",
        )
    )
    gain = (
        F.when(F.col("rank_k") == 1, _DCG_E9[0])
        .when(F.col("rank_k") == 2, _DCG_E9[1])
        .when(F.col("rank_k") == 3, _DCG_E9[2])
        .when(F.col("rank_k") == 4, _DCG_E9[3])
        .otherwise(_DCG_E9[4])
    )
    agg = top5.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.sum(F.col("rel") * gain).cast("bigint").alias("dcg_e9"),
    )
    idcg = (
        F.when(F.col("n_rel") == 1, _IDCG_E9[1])
        .when(F.col("n_rel") == 2, _IDCG_E9[2])
        .when(F.col("n_rel") == 3, _IDCG_E9[3])
        .when(F.col("n_rel") == 4, _IDCG_E9[4])
        .otherwise(_IDCG_E9[5])
    )
    return agg.select(
        "query_id",
        "n_rel",
        "dcg_e9",
        F.when(F.col("n_rel") == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.floor(F.col("dcg_e9").cast("double") / idcg * 1000000).cast(
                "bigint"
            )
        )
        .alias("ndcg_e6"),
    )


@query(
    "embed_cluster_purity",
    """
    WITH assigned AS (
        SELECT vec_id, label,
               4 * (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
               + 2 * (CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END)
               + (CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END)
                   AS cluster_id
        FROM embeddings
    ), counts AS (
        SELECT cluster_id, label, CAST(COUNT(*) AS BIGINT) AS c
        FROM assigned GROUP BY cluster_id, label
    ), ranked AS (
        SELECT cluster_id, label, c,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY c DESC, label ASC) AS rn,
               CAST(SUM(c) OVER (PARTITION BY cluster_id) AS BIGINT) AS n
        FROM counts
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id, n,
           CAST(label AS BIGINT) AS top_label, c AS top_n,
           CAST(FLOOR(CAST(c AS DOUBLE) / n * 1000000) AS BIGINT)
               AS purity_e6
    FROM ranked WHERE rn = 1
    """,
)
def embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity against ground-truth labels (round 7) — the
    clustering-evaluation leg next to embed_silhouette_simplified
    (geometry) and embed_retrieval_ndcg (ranking): for each cluster,
    the fraction of members sharing the majority label.  The readout
    every embedding-space partition (IVF cells, dedup buckets,
    topic clusters) is judged by when labels exist.

    Clusters here are the deterministic sign-octant assignment over
    the first three dimensions (the embed_random_projection
    discipline: sign tests on stored floats are exact, no distance
    float chain at all), so the purity table is reproducible across
    engines/partitionings; majority pick tie-breaks by label id.

    Scale: one keyed count aggregation + a keyed top-1 window
    (WindowGroupLimit shape); no distance computation, no
    single-partition stage."""
    e = load(spark, sf_dir, "embeddings")
    bit = lambda i: F.when(  # noqa: E731
        F.col("embedding")[i] >= 0, 1
    ).otherwise(0)
    assigned = e.select(
        "vec_id",
        "label",
        (4 * bit(0) + 2 * bit(1) + bit(2)).alias("cluster_id"),
    )
    counts = assigned.groupBy("cluster_id", "label").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    wn = Window.partitionBy("cluster_id")
    ranked = counts.select(
        "cluster_id",
        "label",
        "c",
        F.row_number().over(w).alias("rn"),
        F.sum("c").over(wn).cast("bigint").alias("n"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "n",
        F.col("label").cast("bigint").alias("top_label"),
        F.col("c").alias("top_n"),
        F.floor(F.col("c").cast("double") / F.col("n") * 1000000)
        .cast("bigint")
        .alias("purity_e6"),
    )


@query(
    "embed_dim_variance_profile",
    """
    WITH dims AS (
        SELECT u.i - 1 AS dim,
               CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * 1000000)
                    AS BIGINT) AS v_e6
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1,
                          len(embedding))) AS i) u
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR(CAST(SUM(v_e6) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS mean_e6,
           CAST(FLOOR((CAST(SUM(v_e6 * v_e6) AS DOUBLE)
                       - CAST(SUM(v_e6) AS DOUBLE) * SUM(v_e6)
                         / COUNT(*))
                      / COUNT(*) / 1000000) AS BIGINT) AS var_e6
    FROM dims GROUP BY dim
    """,
)
def embed_dim_variance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding space
    (round 7) — the collapse diagnostic: dimensions with ~zero
    variance are wasted capacity (anisotropic or rank-collapsed
    encoders), and the variance ranking is what embed_pca's spectrum
    estimates and embed_matryoshka_truncate's prefix assumption
    depend on.  Run BEFORE trusting any truncation/quantization.

    Exactness: each float quantizes ONCE to e6 (floor — the oracle
    casts f32→DOUBLE before the multiply; DuckDB otherwise runs
    FLOAT×INT in float32, the round-9 ulp trap), then Σ and Σ² are
    exact bigints per dimension; mean
    and population variance are one floored double chain each
    (variance rescaled back to e6 units).

    Scale: posexplode → (dim)-keyed aggregation — one shuffle of
    (dim, partial) pairs, mergeable; no per-vector state."""
    e = load(spark, sf_dir, "embeddings")
    dims = e.select(
        F.posexplode("embedding").alias("dim", "v")
    ).select(
        "dim", F.floor(F.col("v").cast("double") * 1000000).cast("bigint").alias("v_e6")
    )
    g = dims.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v_e6").cast("bigint").alias("s"),
        F.sum(F.col("v_e6") * F.col("v_e6")).cast("bigint").alias("ss"),
    )
    mean = F.floor(F.col("s").cast("double") / F.col("n")).cast("bigint")
    var = F.floor(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / F.col("n")
        / 1000000
    ).cast("bigint")
    return g.select(
        F.col("dim").cast("bigint").alias("dim"),
        "n",
        mean.alias("mean_e6"),
        var.alias("var_e6"),
    )


@query(
    "embed_text_alignment_audit",
    """
    WITH joined AS (
        SELECT e.label, d.lang
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ), cells AS (
        SELECT label, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM joined GROUP BY label, lang
    ), tot AS (
        SELECT label, CAST(SUM(n) AS BIGINT) AS n_label
        FROM cells GROUP BY label
    ), top AS (
        SELECT label, lang AS top_lang, n AS top_n FROM (
            SELECT label, lang, n,
                   ROW_NUMBER() OVER (PARTITION BY label
                                      ORDER BY n DESC, lang) AS rnk
            FROM cells
        ) WHERE rnk = 1
    )
    SELECT t.label AS label, tt.n_label, t.top_lang, t.top_n,
           CAST(FLOOR(CAST(t.top_n AS DOUBLE) / tt.n_label * 1000000)
                AS BIGINT) AS alignment_e6
    FROM top t JOIN tot tt ON tt.label = t.label
    """,
)
def embed_text_alignment_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-MODAL alignment audit (round 7) — the first operator
    joining the two modality tables on their shared id (vec_id ≡
    doc_id in the fixture contract): for each embedding-space label,
    the majority TEXT language among its members and the alignment
    rate.  This is the paired-dataset hygiene check every multimodal
    training set needs — misaligned rows (caption shuffled against
    image, embedding row drifted from its text) poison contrastive
    training silently, and the per-label majority table localizes
    WHERE the pairing broke.

    Exact cell counts, deterministic majority tiebreak (by lang), one
    floored rate.

    Scale: one id-keyed equi-join (both tables store id as the sort
    key at rest) + label-keyed counts + a label-keyed top-1 window."""
    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    cells = (
        e.join(d, "doc_id")
        .groupBy("label", "lang")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = cells.groupBy("label").agg(
        F.sum("n").cast("bigint").alias("n_label")
    )
    w = Window.partitionBy("label").orderBy(F.col("n").desc(), "lang")
    top = (
        cells.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("label", F.col("lang").alias("top_lang"), F.col("n").alias("top_n"))
    )
    return top.join(tot, "label").select(
        F.col("label").cast("bigint").alias("label"),
        "n_label",
        "top_lang",
        "top_n",
        F.floor(
            F.col("top_n").cast("double") / F.col("n_label") * 1000000
        )
        .cast("bigint")
        .alias("alignment_e6"),
    )


@query(
    "embed_outlier_mahalanobis",
    """
    WITH ex AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings
    ), stats AS (
        SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS s,
               CAST(SUM(q * q) AS BIGINT) AS ss
        FROM ex GROUP BY pos
    ), term AS (
        SELECT e.vec_id,
               CAST(FLOOR(
                   CASE WHEN (CAST(st.ss AS DOUBLE)
                              - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)
                                / CAST(st.n AS DOUBLE)) / CAST(st.n AS DOUBLE)
                             <= 0.0 THEN 0.0
                   ELSE (CAST(e.q AS DOUBLE)
                         - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                        * (CAST(e.q AS DOUBLE)
                           - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                        / ((CAST(st.ss AS DOUBLE)
                            - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)
                              / CAST(st.n AS DOUBLE)) / CAST(st.n AS DOUBLE))
                   END * 1000000) AS BIGINT) AS t_e6
        FROM ex e JOIN stats st USING (pos)
    )
    SELECT vec_id, CAST(SUM(t_e6) AS BIGINT) AS dist2_e6
    FROM term GROUP BY vec_id
    ORDER BY dist2_e6 DESC, vec_id LIMIT 20
    """,
)
def embed_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus outlier audit (round 9): squared Mahalanobis
    distance under a DIAGONAL covariance — Σ_d (x_d−μ_d)²/σ²_d — the
    per-vector anomaly score that catches corrupted embeddings
    (zeroed rows, scale blowups, wrong-model batches) BEFORE they
    poison ANN indexes or dedup thresholds; the top-20 worst vectors
    are the triage list. Diagonal covariance is the deliberate scale
    choice: the full Σ⁻¹ needs a d×d solve, diagonal needs only
    per-dimension moments — mergeable, one pass, no driver math.

    Exactness layers: elements quantize to e6 bigints first; per-dim
    (n, Σ, Σ²) are exact; each per-(vector, dim) term runs ONE double
    chain (population variance, guarded against degenerate dims) and
    floors to e6; the over-dims total is then an ORDER-FREE bigint
    sum, so the score hash-matches despite 64-term float math.

    Scale: posexplode is a narrow 64× expansion; the d-row stats
    table broadcasts back onto the stream; top-20 is
    TakeOrderedAndProject. No corpus×corpus anything."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 1000000)
        .cast("bigint")
        .alias("q"),
    )
    stats = ex.groupBy("pos").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("ss"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var = (d("ss") - d("s") * d("s") / d("n")) / d("n")
    mu = d("s") / d("n")
    term = ex.join(F.broadcast(stats), "pos").select(
        "vec_id",
        F.floor(
            F.when(var <= 0.0, F.lit(0.0)).otherwise(
                (d("q") - mu) * (d("q") - mu) / var
            )
            * 1000000
        )
        .cast("bigint")
        .alias("t_e6"),
    )
    return (
        term.groupBy("vec_id")
        .agg(F.sum("t_e6").cast("bigint").alias("dist2_e6"))
        .orderBy(F.col("dist2_e6").desc(), "vec_id")
        .limit(20)
    )


_SPEC_NORM_S = 10**8  # L1 mass of the iterated vector
_SPEC_NORM_ITERS = 8
_SPEC_NORM_Q = 10**6  # embedding quantization
_SPEC_NORM_GD = 10**6  # gram down-scale


def _spectral_norm_oracle_sql() -> str:
    s, gd, q = _SPEC_NORM_S, _SPEC_NORM_GD, _SPEC_NORM_Q
    sql = f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS a,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {q})
                    AS BIGINT) AS qv
        FROM embeddings
    ), g AS MATERIALIZED (
        SELECT qa.a AS ra, qb.a AS cb,
               CAST(FLOOR(CAST(SUM(qa.qv * qb.qv) AS DOUBLE) / {gd})
                    AS BIGINT) AS gv
        FROM q qa JOIN q qb ON qa.vec_id = qb.vec_id
        GROUP BY qa.a, qb.a
    ), dims AS (SELECT CAST(COUNT(DISTINCT ra) AS BIGINT) AS d FROM g
    ), v0 AS MATERIALIZED (
        SELECT ra AS a,
               CAST({s} // (SELECT d FROM dims) AS BIGINT) AS v
        FROM (SELECT DISTINCT ra FROM g)
    )"""
    for i in range(1, _SPEC_NORM_ITERS + 1):
        sql += f""", w{i} AS MATERIALIZED (
        SELECT g.ra AS a, CAST(SUM(g.gv * v.v) AS BIGINT) AS w
        FROM g JOIN v{i - 1} v ON g.cb = v.a GROUP BY g.ra
    ), nrm{i} AS (SELECT CAST(SUM(ABS(w)) AS BIGINT) AS t FROM w{i}
    ), v{i} AS MATERIALIZED (
        SELECT a, CAST(FLOOR(CAST(w AS DOUBLE) * {s}.0
                             / CAST((SELECT t FROM nrm{i}) AS DOUBLE))
                       AS BIGINT) AS v
        FROM w{i}
    )"""
    k = _SPEC_NORM_ITERS
    sql += f""", wf AS MATERIALIZED (
        SELECT g.ra AS a, CAST(SUM(g.gv * v.v) AS BIGINT) AS w
        FROM g JOIN v{k} v ON g.cb = v.a GROUP BY g.ra
    ), ray AS (
        SELECT SUM(CAST(v.v AS HUGEINT) * w.w) AS num,
               SUM(CAST(v.v AS HUGEINT) * v.v) AS den
        FROM v{k} v JOIN wf w ON v.a = w.a
    )
    SELECT (SELECT d FROM dims) AS d,
           (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM q)
               AS n_vecs,
           CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000)
                AS BIGINT) AS lambda_e3,
           CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000.0)
                AS BIGINT) AS spectral_e3
    FROM ray"""
    return sql


@query("embed_gram_spectral_norm", _spectral_norm_oracle_sql())
def embed_gram_spectral_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL NORM of the embedding Gram matrix by quantized POWER
    ITERATION (round 9) — distributed linear algebra with bit-exact
    cross-engine parity. ‖XᵀX‖₂ = σ₁(X)² is the collapse diagnostic
    an embedding pipeline watches: the top eigenvalue's share of
    trace tells you whether the space has degenerated onto one axis
    (embed_dim_variance_profile's per-axis view, upgraded to the
    rotation-invariant answer). Four matvec rounds on the d×d Gram
    + a Rayleigh quotient finish. With a clustered spectrum
    (λ₂/λ₁ ≈ 0.93 on the fixture) eight rounds land ~90% of λ₁ —
    the estimate is a deterministic LOWER BOUND (Rayleigh quotients
    never exceed λ₁), the referee pins the exact quantized recursion
    and the bound; track the ratio across snapshots, not its last
    digit.

    Determinism (the graph_hits_bounded discipline, matrix edition):
    e6-quantized embedding elements make XᵀX exact integers, scaled
    down once by a floored division; each matvec is an exact bigint
    reduction over d terms; each L1 renormalization floor(w·S/Σ|w|)
    is one double chain on integers both engines round identically;
    the Rayleigh num/den run in 128-bit (DuckDB hugeint / Spark
    decimal(38,0)) and cast once to double. The unrolled-CTE oracle
    replays every round bit-for-bit.

    Scale: the Gram build is the ONLY row-scale stage — an outer-
    product groupBy with d² bounded state (map-side combinable;
    at d=64 that is 4096 cells regardless of corpus size); the
    iterations touch d² broadcast-sized cells. Bound: |g·v| ≤
    max|g|·S per term — S = 1e8 keeps 64-term sums under 2⁶³."""
    emb = load(spark, sf_dir, "embeddings")
    s, gd, qs = _SPEC_NORM_S, _SPEC_NORM_GD, _SPEC_NORM_Q
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("a", "e")
    ).select(
        "vec_id",
        "a",
        F.floor(F.col("e").cast("double") * qs).cast("bigint").alias("qv"),
    )
    qa = q.select(
        "vec_id", F.col("a").alias("ra"), F.col("qv").alias("qva")
    )
    qb = q.select(
        "vec_id", F.col("a").alias("cb"), F.col("qv").alias("qvb")
    )
    g = (
        qa.join(qb, "vec_id")
        .groupBy("ra", "cb")
        .agg(
            F.floor(
                F.sum(F.col("qva") * F.col("qvb")).cast("double") / gd
            )
            .cast("bigint")
            .alias("gv")
        )
        .localCheckpoint()
    )
    d_count = g.select("ra").distinct().count()
    n_vecs = emb.count()
    v = (
        g.select("ra")
        .distinct()
        .select(
            F.col("ra").alias("a"),
            F.lit(s // d_count).cast("bigint").alias("v"),
        )
    )
    for _ in range(_SPEC_NORM_ITERS):
        # Round-15 (the graph_hits_bounded discipline): checkpoint the
        # raw matvec ONCE per round — the crossJoin(broadcast(nrm))
        # form consumed the g⋈v subtree twice (once into the scalar
        # L1 agg, once as the join left side).  The L1 total is now a
        # scalar scan of the materialized d-row blocks, folded into
        # the renormalization as a DOUBLE LITERAL (Python float(t) and
        # the old bigint→double cast are both correctly-rounded IEEE —
        # identical division, bit-for-bit).
        w = (
            g.join(v, g.cb == v.a)
            .groupBy("ra")
            .agg(F.sum(F.col("gv") * F.col("v")).cast("bigint").alias("w"))
            .withColumnRenamed("ra", "a")
            .localCheckpoint()
        )
        t = w.agg(F.sum(F.abs(F.col("w"))).cast("bigint")).collect()[0][0]
        v = w.select(
            "a",
            F.floor(F.col("w").cast("double") * float(s) / float(t))
            .cast("bigint")
            .alias("v"),
        )
    wf = (
        g.join(v, g.cb == v.a)
        .groupBy("ra")
        .agg(F.sum(F.col("gv") * F.col("v")).cast("bigint").alias("w"))
        .withColumnRenamed("ra", "a")
    )
    dec = "decimal(38,0)"
    ray = (
        v.join(wf, "a")
        .agg(
            F.sum(F.col("v").cast(dec) * F.col("w")).alias("num"),
            F.sum(F.col("v").cast(dec) * F.col("v")).alias("den"),
        )
    )
    lam = F.col("num").cast("double") / F.col("den").cast("double")
    return ray.select(
        F.lit(d_count).cast("bigint").alias("d"),
        F.lit(n_vecs).cast("bigint").alias("n_vecs"),
        F.floor(lam * 1000).cast("bigint").alias("lambda_e3"),
        F.floor(lam / 1000.0).cast("bigint").alias("spectral_e3"),
    )


@query(
    "embed_alignment_uniformity",
    """
    WITH samp AS (
        SELECT vec_id, label, embedding
        FROM embeddings
        WHERE CAST('0x' || substr(md5('au:' ||
              CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 < 20
    ), q AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS qv
        FROM samp
    ), pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(MAX(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS same,
               CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d2
        FROM q a JOIN q b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
    )
    SELECT CAST((SELECT COUNT(*) FROM samp) AS BIGINT) AS n_sampled,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (same = 1) AS BIGINT) AS n_pos_pairs,
           CAST(FLOOR(CAST(SUM(CASE WHEN same = 1 THEN d2 END)
                           AS DOUBLE)
                      / COUNT(*) FILTER (same = 1)
                      / 1000000000000.0 * 1000000) AS BIGINT)
               AS align_e6,
           CAST(FLOOR(ln(CAST(SUM(CAST(FLOOR(
                    exp(-2.0 * (CAST(d2 AS DOUBLE)
                                / 1000000000000.0))
                    * 1000000000) AS BIGINT)) AS DOUBLE)
                         / COUNT(*) / 1000000000.0)
                      * 1000000) AS BIGINT) AS uniformity_e6
    FROM pairs
    """,
)
def embed_alignment_uniformity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALIGNMENT & UNIFORMITY of the embedding space (round 9),
    Wang & Isola ICML'20: the two numbers that explain contrastive
    representation quality — alignment = E‖x−y‖² over SAME-LABEL
    pairs (want small: positives land together) and uniformity =
    ln E[exp(−2‖x−y‖²)] over ALL pairs (want very negative: mass
    spread over the sphere, no collapse). Together they catch the
    two opposite failure modes (collapse vs scatter) that a single
    retrieval metric (embed_retrieval_ndcg) can miss.

    Exactness: the 20% md5 vector sample is frozen; e6-quantized
    elements make every pairwise ‖x−y‖² an exact bigint; each
    pair's exp(−2d²) floors to e9 BEFORE the integer sum (order-
    free), and alignment/uniformity leave integers through one
    ln/divide chain each.

    Scale: pairwise metrics are pairs² BY DEFINITION — the sample
    bounds the pair set (k² pairs, k = 20% here, a fixed budget at
    any corpus size: tighten the hash window as the corpus grows);
    the distance join is keyed on the dimension index, map-side
    combinable per pair."""
    emb = load(spark, sf_dir, "embeddings")
    keep = md5_int(F.lit("au:"), F.col("vec_id").cast("string"), digits=6) % 100 < 20
    samp = emb.filter(keep).select("vec_id", "label", "embedding")
    n_sampled = samp.count()
    q = samp.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "e"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("e").cast("double") * 1000000)
        .cast("bigint")
        .alias("qv"),
    )
    a = q.select(
        F.col("vec_id").alias("va"),
        F.col("label").alias("la"),
        "i",
        F.col("qv").alias("qa"),
    )
    b = q.select(
        F.col("vec_id").alias("vb"),
        F.col("label").alias("lb"),
        "i",
        F.col("qv").alias("qb"),
    )
    pairs = (
        a.join(b, "i")
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(
            F.max(
                F.when(F.col("la") == F.col("lb"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("same"),
            F.sum(
                (F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb"))
            )
            .cast("bigint")
            .alias("d2"),
        )
    )
    d2d = F.col("d2").cast("double") / 1000000000000.0
    per_pair_u = F.floor(F.exp(-2.0 * d2d) * 1000000000).cast("bigint")
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count_if(F.col("same") == 1).cast("bigint").alias("n_pos_pairs"),
        F.sum(F.when(F.col("same") == 1, F.col("d2")))
        .cast("bigint")
        .alias("d2_pos"),
        F.sum(per_pair_u).cast("bigint").alias("u_sum_e9"),
    )
    return agg.select(
        F.lit(n_sampled).cast("bigint").alias("n_sampled"),
        "n_pairs",
        "n_pos_pairs",
        F.floor(
            F.col("d2_pos").cast("double")
            / F.col("n_pos_pairs")
            / 1000000000000.0
            * 1000000
        )
        .cast("bigint")
        .alias("align_e6"),
        F.floor(
            F.log(
                F.col("u_sum_e9").cast("double")
                / F.col("n_pairs")
                / 1000000000.0
            )
            * 1000000
        )
        .cast("bigint")
        .alias("uniformity_e6"),
    )


@query(
    "embed_pair_distance_hist",
    """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                             AS BIGINT)) AS qv,
               list_sum(list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                        * CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                               AS BIGINT))) AS n2
        FROM embeddings WHERE vec_id < 128
    ), pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               list_sum(list_transform(list_zip(a.qv, b.qv),
                        p -> p[1] * p[2])) AS dot,
               a.n2 AS na, b.n2 AS nb
        FROM q a JOIN q b ON a.vec_id < b.vec_id
    ), sims AS (
        SELECT CAST(FLOOR(CAST(dot AS DOUBLE)
                          / sqrt(CAST(na AS DOUBLE))
                          / sqrt(CAST(nb AS DOUBLE)) * 20) AS BIGINT)
                   AS bucket
        FROM pairs
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM sims GROUP BY bucket ORDER BY bucket
    """,
)
def embed_pair_distance_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-pair cosine-similarity HISTOGRAM (round 9) — the
    one-glance geometry diagnostic the per-dim variance profile
    can't give: a healthy isotropic corpus concentrates pair
    similarity near its mean cosine with thin tails; a spike at the
    top bucket = duplicate/near-duplicate clusters (run dedup first),
    a right-shifted mass = anisotropic collapse (every vector in one
    cone — rank-reduce or whiten before ANN), bimodality = mixed
    encoder versions (embed_drift_labels' prey).  Buckets are 0.05
    cosine widths (floor(sim·20), range −20…19).

    Exactness: elements quantize e6 once (exact on stored f32), dot
    and norms² are exact bigint sums; sim = dot/√na/√nb is ONE
    double chain — IEEE sqrt is correctly rounded, so both engines
    produce the identical double — floored onto the bucket grid;
    bucket counts exact.

    Scale: the pair domain is a FIXED 128-vector anchor panel
    (8 128 pairs at 64 dims regardless of corpus size — the
    sim_topk_exact bounded-pairs discipline); the anchor filter
    pushes to the scan, the panel broadcasts, and the histogram is a
    keyed aggregate over ≤40 buckets."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 128)
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000000).cast("bigint"),
    )
    base = e.select(
        "vec_id",
        qv.alias("qv"),
        F.aggregate(
            F.transform(qv, lambda v: v * v),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("n2"),
    )
    a = base.select(
        F.col("vec_id").alias("va"),
        F.col("qv").alias("qa"),
        F.col("n2").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("vb"),
        F.col("qv").alias("qb"),
        F.col("n2").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("va") < F.col("vb"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    sims = pairs.select(
        F.floor(
            dot.cast("double")
            / F.sqrt(F.col("na").cast("double"))
            / F.sqrt(F.col("nb").cast("double"))
            * 20
        )
        .cast("bigint")
        .alias("bucket")
    )
    return (
        sims.groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("bucket")
    )


@query(
    "embed_knn_margin_audit",
    """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                             AS BIGINT)) AS qv,
               list_sum(list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                        * CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                               AS BIGINT))) AS n2
        FROM embeddings
    ), anchors AS (
        SELECT * FROM q WHERE vec_id < 64
    ), sims AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               CAST(FLOOR(CAST(list_sum(list_transform(
                        list_zip(a.qv, b.qv), p -> p[1] * p[2]))
                        AS DOUBLE)
                      / sqrt(CAST(a.n2 AS DOUBLE))
                      / sqrt(CAST(b.n2 AS DOUBLE))
                      * 1000000) AS BIGINT) AS sim_e6
        FROM anchors a JOIN q b ON b.vec_id <> a.vec_id
    ), ranked AS (
        SELECT qid, nid, sim_e6,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY sim_e6 DESC, nid) AS rn
        FROM sims
    )
    SELECT r1.qid AS vec_id, r1.nid AS best_id,
           r1.sim_e6 AS sim1_e6,
           r1.sim_e6 - r2.sim_e6 AS margin_e6
    FROM ranked r1 JOIN ranked r2
      ON r2.qid = r1.qid AND r1.rn = 1 AND r2.rn = 2
    ORDER BY r1.qid
    """,
)
def embed_knn_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-NEIGHBOR MARGIN audit (round 9) — the ANN reliability
    number recall alone hides: for each anchor query, the cosine gap
    between its 1st and 2nd neighbor.  Tiny margins mean the true
    top-1 is one quantization/probe away from flipping — exactly the
    queries where sim_ann_lsh/ivf/pq recall will degrade first
    (margin is the per-query difficulty the corpus-level recall
    averages wash out); the margin DISTRIBUTION decides whether an
    approximate index is safe to ship, and embed_pair_distance_hist's
    corpus geometry explains WHY margins are thin.

    Exactness: the embed_pair_distance_hist lane — e6-quantized
    elements, exact bigint dots/norms², one sqrt chain per pair
    floored e6; ranks tie-pin on neighbor id; the margin is a bigint
    subtraction of two already-floored sims.

    Scale: a FIXED 64-anchor panel probes the full corpus — anchors
    × corpus, the bounded-rank shape sim_topk_exact pins (linear in
    corpus, constant in panel); per-anchor windows are keyed by
    query id, never global."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000000).cast("bigint"),
    )
    base = e.select(
        "vec_id",
        qv.alias("qv"),
        F.aggregate(
            F.transform(qv, lambda v: v * v),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("n2"),
    )
    anchors = base.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("qid"),
        F.col("qv").alias("qa"),
        F.col("n2").alias("na"),
    )
    corpus = base.select(
        F.col("vec_id").alias("nid"),
        F.col("qv").alias("qb"),
        F.col("n2").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    sims = (
        F.broadcast(anchors)
        .join(corpus, F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            F.floor(
                dot.cast("double")
                / F.sqrt(F.col("na").cast("double"))
                / F.sqrt(F.col("nb").cast("double"))
                * 1000000
            )
            .cast("bigint")
            .alias("sim_e6"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim_e6").desc(), "nid")
    ranked = sims.select(
        "qid", "nid", "sim_e6", F.row_number().over(w).alias("rn")
    )
    r1 = ranked.filter(F.col("rn") == 1).select(
        F.col("qid").alias("vec_id"),
        F.col("nid").alias("best_id"),
        F.col("sim_e6").alias("sim1_e6"),
    )
    r2 = ranked.filter(F.col("rn") == 2).select(
        F.col("qid").alias("vec_id"),
        F.col("sim_e6").alias("sim2_e6"),
    )
    return (
        r1.join(r2, "vec_id")
        .select(
            "vec_id",
            "best_id",
            "sim1_e6",
            (F.col("sim1_e6") - F.col("sim2_e6")).alias("margin_e6"),
        )
        .orderBy("vec_id")
    )


@query(
    "embed_knn_loo_accuracy",
    """
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                             AS BIGINT)) AS qv,
               list_sum(list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                        * CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                               AS BIGINT))) AS n2
        FROM embeddings
    ), anchors AS (
        SELECT * FROM q WHERE vec_id < 128
    ), sims AS (
        SELECT a.vec_id AS qid, a.label AS true_label,
               b.label AS nb_label, b.vec_id AS nid,
               CAST(FLOOR(CAST(list_sum(list_transform(
                        list_zip(a.qv, b.qv), p -> p[1] * p[2]))
                        AS DOUBLE)
                      / sqrt(CAST(a.n2 AS DOUBLE))
                      / sqrt(CAST(b.n2 AS DOUBLE))
                      * 1000000) AS BIGINT) AS sim_e6
        FROM anchors a JOIN q b ON b.vec_id <> a.vec_id
    ), top5 AS (
        SELECT qid, true_label, nb_label
        FROM (
            SELECT qid, true_label, nb_label,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY sim_e6 DESC, nid) AS rn
            FROM sims
        ) WHERE rn <= 5
    ), votes AS (
        SELECT qid, true_label, nb_label,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM top5 GROUP BY qid, true_label, nb_label
    ), pred AS (
        SELECT qid, true_label, nb_label AS pred_label
        FROM (
            SELECT qid, true_label, nb_label,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY v DESC, nb_label) AS rn
            FROM votes
        ) WHERE rn = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) FILTER (pred_label = true_label) AS BIGINT)
               AS n_correct,
           CAST(FLOOR(CAST(COUNT(*) FILTER (pred_label = true_label)
                           AS DOUBLE) * 1000000 / COUNT(*)) AS BIGINT)
               AS accuracy_e6
    FROM pred
    """,
)
def embed_knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT kNN label accuracy (round 9) — the third
    embedding-quality referee and the most decision-relevant:
    embed_cluster_purity scores given clusters,
    embed_silhouette_simplified their geometry; LOO-kNN asks the
    production question directly — does NEIGHBORHOOD STRUCTURE
    predict labels?  Each anchor's label is predicted by majority
    vote of its 5 nearest OTHER vectors (ties broken toward the
    lexicographically smaller label — pinned, not arbitrary);
    accuracy near the majority-class share means retrieval-augmented
    anything built on these vectors will disappoint regardless of
    recall.

    Exactness: the quantized-cosine lane end-to-end (e6 elements
    cast f32→double first, exact dots/norms², one sqrt chain per
    pair); neighbor ranks tie-pin on vec_id, votes on label — every
    stage deterministic, the final accuracy floors once.

    Scale: fixed 128-anchor panel × corpus (the margin-audit
    shape); vote and argmax windows keyed per query."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000000).cast("bigint"),
    )
    base = e.select(
        "vec_id",
        "label",
        qv.alias("qv"),
        F.aggregate(
            F.transform(qv, lambda v: v * v),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("n2"),
    )
    anchors = base.filter(F.col("vec_id") < 128).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("qv").alias("qa"),
        F.col("n2").alias("na"),
    )
    corpus = base.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nb_label"),
        F.col("qv").alias("qb"),
        F.col("n2").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    sims = (
        F.broadcast(anchors)
        .join(corpus, F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "true_label",
            "nb_label",
            "nid",
            F.floor(
                dot.cast("double")
                / F.sqrt(F.col("na").cast("double"))
                / F.sqrt(F.col("nb").cast("double"))
                * 1000000
            )
            .cast("bigint")
            .alias("sim_e6"),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("sim_e6").desc(), "nid"
    )
    top5 = sims.withColumn("rn", F.row_number().over(w_rank)).filter(
        F.col("rn") <= 5
    )
    votes = top5.groupBy("qid", "true_label", "nb_label").agg(
        F.count("*").cast("bigint").alias("v")
    )
    w_vote = Window.partitionBy("qid").orderBy(
        F.col("v").desc(), "nb_label"
    )
    pred = votes.withColumn("rn", F.row_number().over(w_vote)).filter(
        F.col("rn") == 1
    )
    return pred.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.count_if(F.col("nb_label") == F.col("true_label"))
        .cast("bigint")
        .alias("n_correct"),
        F.floor(
            F.count_if(F.col("nb_label") == F.col("true_label")).cast(
                "double"
            )
            * 1000000
            / F.count("*")
        )
        .cast("bigint")
        .alias("accuracy_e6"),
    )


@query(
    "embed_mrr",
    f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               c.vec_id AS neighbor_id, c.label AS c_label,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} AS dot
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 30
    ), ranked AS (
        SELECT query_id,
               CASE WHEN q_label = c_label THEN 1 ELSE 0 END AS rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id ASC)
                   AS rank_k
        FROM scored
    ), firstrel AS (
        SELECT query_id,
               CAST(MIN(CASE WHEN rel = 1 THEN rank_k END) AS BIGINT)
                   AS first_rel_rank
        FROM ranked GROUP BY query_id
    )
    SELECT query_id, first_rel_rank,
           CAST(COALESCE(1000000 // first_rel_rank, 0) AS BIGINT)
               AS rr_e6,
           CAST(CAST(SUM(COALESCE(1000000 // first_rel_rank, 0))
                     OVER () AS BIGINT)
                // COUNT(*) OVER () AS BIGINT) AS mrr_e6
    FROM firstrel ORDER BY query_id
    """,
)
def embed_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEAN RECIPROCAL RANK (round 10) over the standard 30-query
    panel: the rank of the FIRST same-label neighbor, inverted and
    averaged — the retrieval metric for "find me ONE good match"
    tasks (known-item search, dedup candidate lookup, RAG first-hit)
    where nDCG's graded tail is noise.  Completes the ranking-eval
    trio: recall@k (did candidates survive — the ANN referees),
    nDCG@5 (is the whole top-k ordered well), MRR (how deep must a
    user dig for the first hit).

    ZERO floats end-to-end: ranks are integers, each reciprocal is
    the exact integer 1000000 DIV rank, and the panel MRR is one
    integer division of exact sums — no quantization boundary at
    all (the dot-product ordering itself is the shared float chain,
    tie-broken by neighbor_id like every ranking op here).

    Scale: bounded panel × corpus, the sim_topk_exact shape; at
    100 TB the ranked stream comes from the ANN shortlist instead —
    same eval, cheaper candidates."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    scored = q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        F.when(F.col("q_label") == F.col("c_label"), 1).otherwise(0).alias("rel"),
        "neighbor_id",
        dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank_k", F.row_number().over(w))
    firstrel = ranked.groupBy("query_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank_k")))
        .cast("bigint")
        .alias("first_rel_rank")
    )
    rr = F.coalesce(
        F.expr("1000000 DIV first_rel_rank"), F.lit(0)
    ).cast("bigint")
    wall = Window.partitionBy()
    return (
        firstrel.select(
            "query_id",
            "first_rel_rank",
            rr.alias("rr_e6"),
        )
        .withColumn(
            "mrr_e6",
            F.expr("CAST(SUM(rr_e6) OVER () DIV COUNT(*) OVER () AS BIGINT)"),
        )
        .orderBy("query_id")
    )


def _score_pairs(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Attach embeddings by id to a bare (query_id, neighbor_id)
    candidate-pair frame and compute the exact dot — the shared scoring
    step of every audit that can run over EITHER the all-pairs frame or
    an ANN shortlist (the pair frame stays 2 ints wide through any
    dedup; arrays join back here, the sim_ann_lsh discipline)."""
    qe = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ce = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    return (
        pairs.join(qe, "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
        )
    )


def _all_pairs_scored(emb: DataFrame) -> DataFrame:
    """The exact all-pairs scored frame — quadratic, fixture-scale
    only; corpus scale substitutes lsh_candidate_pairs() (same schema,
    same downstream pipelines)."""
    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    return q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
    )


def _corpus_topk_arrow(sf_dir: str, k: int, emit: str):
    """mapInArrow kernel factory for the FUSED all-pairs top-k: each
    task reads the corpus matrix ONCE from the embeddings parquet
    (heavyweight init per task — guide §4.5 shape), scores its batch
    of query vectors against the whole corpus with the ordered
    float64 fold (``acc_k = acc_{k-1} + dbl(a_k)·dbl(b_k)``, the
    IEEE-identical twin of ``dot_product``'s zip_with/aggregate left
    fold — the lsh_buckets_udf precedent), and reduces IN the kernel:

    - ``emit="nn2"``  → one row per query: (query_id, dot1, dot2),
      the two largest non-self dots (the window-top-2 readout of
      twonn_audit, as VALUES — rank tie-break cannot change them).
    - ``emit="top5"`` → up to k rows per query: (query_id,
      neighbor_id), the top-k by (dot DESC, neighbor_id ASC) — the
      id-stable order replicated via a stable argsort over the
      id-sorted corpus.

    The round-15 optimization lesson behind it (guide §8): the
    previous BNLJ all-pairs plan materialized |corpus|² rows each
    carrying TWO 64-float payloads (≈2 GB at sf0.1) only to reduce
    them to |corpus| rows — the payload must not ride the pair
    frame. Fused: 4M interpreted fold evals → 64 vectorized numpy
    passes, measured 32 s → ~1 s at sf0.1 with bit-identical output
    (the feed-independence pytest referees it against the window
    pipeline over an exact shortlist)."""
    from graphsense_datafeed_spark.sources.tables import path_for

    corpus_path = path_for(sf_dir, "embeddings")

    def fn(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(corpus_path, columns=["vec_id", "embedding"])
        cid = t.column("vec_id").to_numpy(zero_copy_only=False)
        emb_list = t.column("embedding").combine_chunks()
        flat = emb_list.flatten().to_numpy(zero_copy_only=False)
        if len(flat) == len(cid) * EMBEDDING_DIM:
            corpus = flat.reshape(len(cid), EMBEDDING_DIM)
        else:  # non-contiguous list layout: row-wise fallback
            corpus = np.vstack(emb_list.to_pylist())
        order = np.argsort(cid, kind="stable")
        cid = cid[order].astype(np.int64)
        cd = corpus[order].astype(np.float64)  # (N, dim)
        n = len(cid)
        for batch in batches:
            qid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            ql = batch.column("embedding")
            qflat = ql.flatten().to_numpy(zero_copy_only=False)
            if len(qflat) == len(qid) * EMBEDDING_DIM:
                qm = qflat.reshape(len(qid), EMBEDDING_DIM)
            else:
                qm = np.vstack(ql.to_pylist())
            qd = qm.astype(np.float64)
            # chunk queries so the (chunk × N) accumulator stays small
            chunk = max(1, (1 << 22) // max(n, 1))
            for lo in range(0, len(qid), chunk):
                q = qd[lo : lo + chunk]
                ids = qid[lo : lo + chunk]
                acc = np.zeros((len(q), n))
                for d in range(EMBEDDING_DIM):
                    acc += q[:, d, None] * cd[None, :, d]
                # exclude self (query_id != neighbor_id)
                pos = np.searchsorted(cid, ids)
                rows = np.arange(len(ids))
                selfmask = (pos < n) & (cid[np.minimum(pos, n - 1)] == ids)
                acc[rows[selfmask], pos[selfmask]] = -np.inf
                if emit == "nn2":
                    # non-self neighbor count decides row/None parity
                    # with the window pipeline: 0 → no row at all,
                    # 1 → dot2 IS NULL (never NaN — floor(NaN) and
                    # floor(NULL) differ downstream)
                    nn = n - selfmask.astype(np.int64)
                    if n > 1:
                        part = np.partition(-acc, 1, axis=1)
                        d1, d2 = -part[:, 0], -part[:, 1]
                    else:
                        d1 = acc[:, 0]
                        d2 = np.zeros(len(ids))
                    keep = nn >= 1
                    yield pa.record_batch(
                        [
                            pa.array(ids[keep].astype(np.int64)),
                            pa.array(d1[keep], mask=(nn[keep] < 1)),
                            pa.array(d2[keep], mask=(nn[keep] < 2)),
                        ],
                        names=["query_id", "dot1", "dot2"],
                    )
                else:
                    # stable argsort over the id-ASC corpus == order by
                    # (dot DESC, neighbor_id ASC) — row_number() parity
                    top = np.argsort(-acc, axis=1, kind="stable")[:, :k]
                    take = np.minimum(k, n - selfmask.astype(np.int64))
                    out_q, out_n, out_r, out_d = [], [], [], []
                    for r in range(len(ids)):
                        sel = top[r, : take[r]]
                        out_q.append(np.full(len(sel), ids[r], dtype=np.int64))
                        out_n.append(cid[sel])
                        if emit == "topk":
                            out_r.append(
                                np.arange(1, len(sel) + 1, dtype=np.int32)
                            )
                            out_d.append(acc[r, sel])
                    qcol = np.concatenate(out_q) if out_q else np.array([], dtype=np.int64)
                    ncol = np.concatenate(out_n) if out_n else np.array([], dtype=np.int64)
                    if emit == "topk":
                        yield pa.record_batch(
                            [
                                pa.array(qcol),
                                pa.array(ncol),
                                pa.array(
                                    np.concatenate(out_r)
                                    if out_r
                                    else np.array([], dtype=np.int32)
                                ),
                                pa.array(
                                    np.concatenate(out_d)
                                    if out_d
                                    else np.array([], dtype=np.float64)
                                ),
                            ],
                            names=["query_id", "neighbor_id", "rank_k", "dot"],
                        )
                    else:
                        yield pa.record_batch(
                            [pa.array(qcol), pa.array(ncol)],
                            names=["query_id", "neighbor_id"],
                        )

    return fn


def _fused_all_pairs(
    spark: SparkSession, sf_dir: str, k: int, emit: str, schema: str
) -> DataFrame:
    """Run the fused corpus-top-k kernel over the embeddings scan.
    The repartition fans the single-file fixture scan across all
    slots (the dedup_near discipline; a many-split cluster scan makes
    it a near-no-op)."""
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    return e.mapInArrow(_corpus_topk_arrow(sf_dir, k, emit), schema)


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus LSH candidate shortlist — (query_id, neighbor_id)
    for every pair sharing a (table, bucket) cell in the 16-table
    random-hyperplane index.  This is the documented corpus-scale
    substitution feed for the quadratic audits (embed_hubness,
    embed_intrinsic_dim_twonn): the equi-join on (table_id, bucket)
    replaces the cross join, and the downstream occ/moment (resp.
    nn-ratio) pipelines are IDENTICAL on both feeds —
    tests/test_round11_ops.py pins that identity."""
    idx = _lsh_index(spark, sf_dir)
    q = idx.select(F.col("vec_id").alias("query_id"), "table_id", "bucket")
    c = idx.select(
        F.col("vec_id").alias("neighbor_id"), "table_id", "bucket"
    )
    return (
        q.join(c, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def hubness_audit(emb: DataFrame, scored: DataFrame) -> DataFrame:
    """The occ/moment pipeline of embed_hubness, factored over ANY
    scored candidate frame (all-pairs or ANN shortlist): top-5 per
    query (dot desc, id asc), N5 occupancy via left join (anti-hubs
    with zero candidates stay counted), exact bigint moment sums,
    floored-e6 skewness."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    top5 = (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= 5)
        .select("neighbor_id")
    )
    return _hubness_from_top5(emb, top5)


def _hubness_from_top5(emb: DataFrame, top5: DataFrame) -> DataFrame:
    """Shared N5-occupancy/moment readout over a top-5 neighbor frame
    — fed by either the window pipeline (hubness_audit) or the fused
    Arrow kernel (default all-pairs path)."""
    occ_counts = top5.groupBy("neighbor_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    occ = (
        emb.select("vec_id")
        .join(occ_counts, emb.vec_id == occ_counts.neighbor_id, "left")
        .select(
            "vec_id", F.coalesce("c", F.lit(0)).cast("bigint").alias("n5")
        )
    )
    mom = occ.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n5").cast("bigint").alias("s1"),
        F.sum(F.col("n5") * F.col("n5")).cast("bigint").alias("s2"),
        F.sum(F.col("n5") * F.col("n5") * F.col("n5"))
        .cast("bigint")
        .alias("s3"),
        F.max("n5").cast("bigint").alias("max_occ"),
        F.count_if(F.col("n5") == 0).cast("bigint").alias("n_antihubs"),
        F.count_if(F.col("n5") > 10).cast("bigint").alias("n_hubs"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    m = d("s1") / d("n")
    var = d("s2") / d("n") - m * m
    m3 = d("s3") / d("n") - 3.0 * m * (d("s2") / d("n")) + 2.0 * m * m * m
    return mom.select(
        "n",
        "s1",
        "s2",
        "s3",
        "max_occ",
        "n_antihubs",
        "n_hubs",
        F.when(
            var > 0,
            F.floor(m3 / F.pow(var, F.lit(1.5)) * 1000000).cast("bigint"),
        ).alias("skew_e6"),
    )


@query(
    "embed_hubness",
    f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} AS dot
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
    ), top5 AS (
        SELECT neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dot DESC, neighbor_id ASC)
                       AS rank_k
            FROM scored
        ) WHERE rank_k <= 5
    ), occ AS (
        SELECT e.vec_id,
               CAST(COALESCE(t.c, 0) AS BIGINT) AS n5
        FROM embeddings e LEFT JOIN (
            SELECT neighbor_id, CAST(COUNT(*) AS BIGINT) AS c
            FROM top5 GROUP BY 1
        ) t ON e.vec_id = t.neighbor_id
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n5) AS BIGINT) AS s1,
               CAST(SUM(n5 * n5) AS BIGINT) AS s2,
               CAST(SUM(n5 * n5 * n5) AS BIGINT) AS s3,
               CAST(MAX(n5) AS BIGINT) AS max_occ,
               CAST(COUNT(*) FILTER (n5 = 0) AS BIGINT) AS n_antihubs,
               CAST(COUNT(*) FILTER (n5 > 10) AS BIGINT) AS n_hubs
        FROM occ
    )
    SELECT n, s1, s2, s3, max_occ, n_antihubs, n_hubs,
           CASE WHEN CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     > 0
                THEN CAST(FLOOR(
                    (CAST(s3 AS DOUBLE) / n
                     - 3.0 * (CAST(s1 AS DOUBLE) / n)
                           * (CAST(s2 AS DOUBLE) / n)
                     + 2.0 * (CAST(s1 AS DOUBLE) / n)
                           * (CAST(s1 AS DOUBLE) / n)
                           * (CAST(s1 AS DOUBLE) / n))
                    / pow(CAST(s2 AS DOUBLE) / n
                          - (CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n), 1.5)
                    * 1000000) AS BIGINT)
                ELSE NULL END AS skew_e6
    FROM mom
    """,
)
def embed_hubness(
    spark: SparkSession,
    sf_dir: str,
    candidate_pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """HUBNESS audit of the embedding space (round 10): compute every
    point's 5-occurrence N₅ (how many OTHER points list it among
    their top-5 neighbors) and the skewness of that distribution —
    THE high-dimensionality pathology metric for similarity search
    (Radovanović et al.): in well-behaved spaces N₅ concentrates
    near k=5; in hub-ridden spaces a few points appear in everyone's
    neighbor lists (skew ≫ 0) while anti-hubs (N₅ = 0) become
    unreachable — which silently corrupts kNN classification,
    dedup_semantic candidate quality, and ANN recall.  Readout: the
    exact moment sums, max occupancy, anti-hub and hub (>2k) counts,
    and the floored skewness.

    Exactness: N₅ values are exact integers from the same
    WindowGroupLimit top-5 as embed_knn_graph (dot order, id
    tiebreak); S₁/S₂/S₃ are exact bigints; skewness is ONE double
    chain, floored e6.

    Scale: the all-pairs stage is the knn-graph shape — quadratic at
    fixture scale; at corpus scale pass ``candidate_pairs=
    lsh_candidate_pairs(spark, sf_dir)`` (or any ANN shortlist) and
    the equi-join feed replaces the cross join while the SAME
    ``hubness_audit`` occ/moment pipeline runs downstream
    (tests/test_round11_ops.py proves feed-independence by running
    the audit over an exact top-10 shortlist and matching the
    all-pairs result bit-for-bit); the audit itself is
    |corpus|-linear.

    Round-15: the default all-pairs feed runs as the FUSED Arrow
    kernel (guide §8; see _corpus_topk_arrow — stable argsort over
    the id-sorted corpus replicates the (dot DESC, neighbor_id ASC)
    row_number order, so the top-5 sets are identical; measured
    33 s → ~1 s at sf0.1, refereed by the feed-independence
    pytest)."""
    e = load(spark, sf_dir, "embeddings")
    if candidate_pairs is not None:
        return hubness_audit(e, _score_pairs(e, candidate_pairs))
    top5 = _fused_all_pairs(
        spark, sf_dir, 5, "top5", "query_id long, neighbor_id long"
    ).select("neighbor_id")
    return _hubness_from_top5(e, top5)


def twonn_audit(scored: DataFrame) -> DataFrame:
    """The nn-ratio pipeline of embed_intrinsic_dim_twonn, factored
    over ANY scored candidate frame (all-pairs or ANN shortlist):
    top-2 per query (dot desc, id asc), duplicate-gate before the log,
    per-point floored-e9 log-ratio terms, exact bigint sum, MLE
    readout."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    nn2 = (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= 2)
        .groupBy("query_id")
        .agg(
            F.max(F.when(F.col("rank_k") == 1, F.col("dot"))).alias("dot1"),
            F.max(F.when(F.col("rank_k") == 2, F.col("dot"))).alias("dot2"),
        )
    )
    return _twonn_tail(nn2)


def _twonn_tail(nn2: DataFrame) -> DataFrame:
    """Shared MLE readout over a (query_id, dot1, dot2) frame — fed by
    either the window pipeline (twonn_audit) or the fused Arrow kernel
    (default all-pairs path)."""
    terms = nn2.filter(F.lit(1.0) - F.col("dot1") > 1e-9).select(
        "query_id",
        F.floor(
            0.5
            * F.log(
                (F.lit(1.0) - F.col("dot2")) / (F.lit(1.0) - F.col("dot1"))
            )
            * 1000000000
        )
        .cast("bigint")
        .alias("lnmu_e9"),
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_used"),
        F.sum("lnmu_e9").cast("bigint").alias("sum_lnmu_e9"),
        F.floor(
            F.count("*").cast("double")
            / (F.sum("lnmu_e9").cast("double") / 1e9)
            * 1000000
        )
        .cast("bigint")
        .alias("id_twonn_e6"),
    )


@query(
    "embed_intrinsic_dim_twonn",
    f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} AS dot
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
    ), nn2 AS (
        SELECT query_id,
               MAX(CASE WHEN rank_k = 1 THEN dot END) AS dot1,
               MAX(CASE WHEN rank_k = 2 THEN dot END) AS dot2
        FROM (
            SELECT query_id, dot,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dot DESC, neighbor_id ASC)
                       AS rank_k
            FROM scored
        ) WHERE rank_k <= 2 GROUP BY query_id
    ), terms AS (
        SELECT query_id,
               CAST(FLOOR(0.5 * LN((1.0 - dot2) / (1.0 - dot1))
                          * 1000000000) AS BIGINT) AS lnmu_e9
        FROM nn2 WHERE 1.0 - dot1 > 0.000000001
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
           CAST(SUM(lnmu_e9) AS BIGINT) AS sum_lnmu_e9,
           CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                      / (CAST(SUM(lnmu_e9) AS DOUBLE) / 1000000000.0)
                      * 1000000) AS BIGINT) AS id_twonn_e6
    FROM terms
    """,
)
def embed_intrinsic_dim_twonn(
    spark: SparkSession,
    sf_dir: str,
    candidate_pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """TwoNN INTRINSIC DIMENSION (round 10), Facco et al. 2017: the
    MLE d̂ = n / Σ ln(d₂/d₁) from each point's two nearest-neighbor
    distances — how many degrees of freedom the embedding cloud
    ACTUALLY uses, regardless of its 64 ambient dimensions.  The
    manifold-level companion to the repo's two linear collapse
    probes (embed_dim_variance_profile: per-axis; embed_gram_
    spectral_norm: top direction): a space can pass both and still
    live on a curved low-dimensional sheet — TwoNN sees it from
    local neighbor ratios alone.  Low d̂ with high ambient dim means
    aggressive matryoshka truncation / PQ compression is safe; d̂
    collapsing across snapshots flags representation degeneration.

    Exactness: unit-norm embeddings make ‖a−b‖² = 2(1−dot), so
    ln(d₂/d₁) = ½·ln((1−dot₂)/(1−dot₁)) — each per-point term is ONE
    double chain over the shared dot values, floored e9, summed as
    exact bigints; points whose nearest neighbor is (numerically) a
    duplicate (1−dot₁ ≤ 1e-9) are excluded BEFORE the log in both
    engines — run dedup first, as the TwoNN paper itself requires.

    Scale: top-2-of-corpus per point — the knn-graph stage with k=2;
    at 100 TB pass ``candidate_pairs=lsh_candidate_pairs(spark,
    sf_dir)`` (or any ANN shortlist) and the SAME ``twonn_audit``
    ratio pipeline runs over the equi-join feed
    (tests/test_round11_ops.py proves feed-independence against an
    exact top-10 shortlist).

    Round-15: the default all-pairs feed runs as the FUSED Arrow
    kernel (guide §8 — the BNLJ pair frame carried two 64-float
    payloads per row only to reduce |corpus|² rows to |corpus|;
    measured 32 s → ~1 s at sf0.1, bit-identical via the ordered
    float64 fold and the feed-independence pytest)."""
    if candidate_pairs is not None:
        e = load(spark, sf_dir, "embeddings")
        return twonn_audit(_score_pairs(e, candidate_pairs))
    nn2 = _fused_all_pairs(
        spark, sf_dir, 2, "nn2", "query_id long, dot1 double, dot2 double"
    )
    return _twonn_tail(nn2)


@query(
    "embed_panel_coverage",
    f"""
    WITH scored AS (
        SELECT c.vec_id AS corpus_id, q.vec_id AS query_id,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} AS dot
        FROM embeddings c JOIN embeddings q
          ON q.vec_id < 30 AND q.vec_id != c.vec_id
    ), covered AS (
        SELECT corpus_id,
               CAST(COUNT(*) FILTER (dot >= 0.3) AS BIGINT) AS n_hits
        FROM scored GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
           CAST(COUNT(*) FILTER (n_hits > 0) AS BIGINT) AS n_covered,
           CAST(COUNT(*) FILTER (n_hits > 0) * 1000000 // COUNT(*)
                AS BIGINT) AS coverage_e6,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits,
           CAST(MAX(n_hits) AS BIGINT) AS max_hits_per_doc
    FROM covered
    """,
)
def embed_panel_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROBE-PANEL COVERAGE (round 10): what share of the corpus lies
    within cosine 0.3 of AT LEAST ONE panel query — the
    representativeness audit of the 30-query probe set every
    retrieval eval in this repo (sim_topk_exact, nDCG, MRR, the ANN
    recall referees) silently conditions on.  A panel that covers
    20% of the corpus certifies ANN recall for that 20% and says
    NOTHING about the rest — coverage is the denominator disclosure
    evaluation reports owe, and the multiplicity column (max hits per
    doc) reads panel redundancy (many queries covering the same
    region = wasted probes).

    Exactness: the shared dot chain (zip_with fold, identical both
    engines), one threshold comparison on identical doubles, then
    pure integer counts and one exact share division.

    Scale: bounded panel × corpus — the sim_topk_exact shape reduced
    map-side to per-document hit counts; at 100 TB the same audit
    rides the ANN bucket join instead of the dense pass."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("c_emb"),
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("corpus_id")
    ).select(
        "corpus_id",
        dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
    )
    covered = scored.groupBy("corpus_id").agg(
        F.count_if(F.col("dot") >= 0.3).cast("bigint").alias("n_hits")
    )
    return covered.agg(
        F.count("*").cast("bigint").alias("n_corpus"),
        F.count_if(F.col("n_hits") > 0).cast("bigint").alias("n_covered"),
        F.expr(
            "CAST(count_if(n_hits > 0) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("coverage_e6"),
        F.sum("n_hits").cast("bigint").alias("total_hits"),
        F.max("n_hits").cast("bigint").alias("max_hits_per_doc"),
    )


@query(
    "embed_spherical_kmeans_step",
    f"""
    WITH scored AS (
        SELECT c.vec_id, s.vec_id AS cell,
               {_DUCK_DOT.format(a="c.embedding", b="s.embedding")} AS dot
        FROM embeddings c JOIN embeddings s ON s.vec_id < 8
    ), assigned AS (
        SELECT vec_id, cell, dot FROM (
            SELECT vec_id, cell, dot,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, cell ASC) AS rnk
            FROM scored
        ) WHERE rnk = 1
    )
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST(FLOOR((1.0 - dot) * 1000000) AS BIGINT))
                AS BIGINT) AS inertia_e6
    FROM assigned GROUP BY 1 ORDER BY 1
    """,
)
def embed_spherical_kmeans_step(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE SPHERICAL K-MEANS ASSIGNMENT STEP (round 11), k=8,
    deterministic seeds (vec_ids 0-7 as centroids): every vector
    joins its argmax-cosine cell (dot desc, seed-id asc tiebreak) and
    each cell reports membership and cosine inertia Σ(1−cos) — the
    EXACT-ORACLE window into the Lloyd iteration that the rows-only
    ANN trainers (sim_ann_ivf's bounded-sample Lloyd, embed_centroid_
    topk) run opaquely: cell balance and inertia per step are what
    you actually monitor when fitting an IVF codebook at corpus
    scale.

    Exactness: seeded centroids are corpus rows (no RNG); each dot is
    the shared double-chain reduction; per-vector (1−dot) floors e6
    BEFORE the order-free bigint sum.

    Scale: |corpus|×8 broadcast-joined scoring (linear, the
    embed_nearest_centroid_classify shape), keyed top-1 window on
    vec_id, 8-row finish."""
    e = load(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("s_emb")
    )
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "cell",
        dot_product(F.col("embedding"), F.col("s_emb")).alias("dot"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dot").desc(), F.col("cell").asc()
    )
    assigned = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
    )
    return (
        assigned.groupBy("cell")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum(
                F.floor((F.lit(1.0) - F.col("dot")) * 1000000).cast("bigint")
            )
            .cast("bigint")
            .alias("inertia_e6"),
        )
        .orderBy("cell")
    )


@query(
    "embed_cka_split",
    """
    WITH flat AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000)
                    AS BIGINT) AS v
        FROM embeddings
    ), xf AS (
        SELECT vec_id, pos AS p, v FROM flat WHERE pos <= 32
    ), yf AS (
        SELECT vec_id, pos - 32 AS q, v AS w FROM flat WHERE pos > 32
    ), cxy AS (
        SELECT x.p, y.q, CAST(SUM(x.v * y.w) AS BIGINT) AS c
        FROM xf x JOIN yf y USING (vec_id) GROUP BY 1, 2
    ), cxx AS (
        SELECT a.p, b.p AS q, CAST(SUM(a.v * b.v) AS BIGINT) AS c
        FROM xf a JOIN xf b USING (vec_id) GROUP BY 1, 2
    ), cyy AS (
        SELECT a.q AS p, b.q, CAST(SUM(a.w * b.w) AS BIGINT) AS c
        FROM yf a JOIN yf b USING (vec_id) GROUP BY 1, 2
    ), folds AS (
        SELECT
            (SELECT CAST(SUM(CAST(FLOOR(CAST(c AS DOUBLE)
                 * CAST(c AS DOUBLE) / 1000000000000) AS BIGINT))
                 AS BIGINT) FROM cxy) AS sxy,
            (SELECT CAST(SUM(CAST(FLOOR(CAST(c AS DOUBLE)
                 * CAST(c AS DOUBLE) / 1000000000000) AS BIGINT))
                 AS BIGINT) FROM cxx) AS sxx,
            (SELECT CAST(SUM(CAST(FLOOR(CAST(c AS DOUBLE)
                 * CAST(c AS DOUBLE) / 1000000000000) AS BIGINT))
                 AS BIGINT) FROM cyy) AS syy
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vec,
           sxy AS frob2_xy_s, sxx AS frob2_xx_s, syy AS frob2_yy_s,
           CAST(FLOOR(CAST(sxy AS DOUBLE)
                      / (SQRT(CAST(sxx AS DOUBLE))
                         * SQRT(CAST(syy AS DOUBLE)))
                      * 1000000) AS BIGINT) AS cka_e6
    FROM folds
    """,
)
def embed_cka_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR CKA BETWEEN THE TWO HALVES of the embedding dims (round
    11), uncentered: CKA = ‖XᵀY‖²_F / (‖XᵀX‖_F·‖YᵀY‖_F) with X =
    dims 1-32, Y = dims 33-64 — DO the two halves of the
    representation encode the same geometry?  High CKA means the
    trailing dims are redundant with the leading ones
    (matryoshka-truncation and PQ-subspace compression are safe —
    the pairwise companion to embed_dim_variance_profile's per-axis
    and embed_gram_spectral_norm's top-direction views); CKA falling
    across snapshots localizes representation drift to WHICH
    subspace changed.  The uncentered (gram-cosine) form is used so
    every co-moment stays an exact cleared integer.

    Exactness: values quantized to e4 bigints, so every 32×32 gram
    cell Σvw is an exact bigint at ANY corpus size; each cell's
    square is ONE correctly-rounded double product scaled 1e-12 and
    floored BEFORE the order-free bigint fold (the scale cancels in
    the CKA ratio); final is one double chain floored e6.

    Scale: posexplode → three vec-keyed self-joins with a fixed
    32×32 fan-out (linear in corpus, the embed_centroids shape) →
    1024-cell aggregates → 1-row fold."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        (F.posexplode("embedding")).alias("pos0", "val"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 10000).cast("bigint").alias("v"),
    )
    xf = flat.filter(F.col("pos") <= 32).select(
        "vec_id", F.col("pos").alias("p"), "v"
    )
    yf = flat.filter(F.col("pos") > 32).select(
        "vec_id", (F.col("pos") - 32).alias("q"), F.col("v").alias("w")
    )

    def _fold(gram: DataFrame, alias: str) -> DataFrame:
        sq = (
            F.col("c").cast("double") * F.col("c").cast("double")
            / 1000000000000
        )
        return gram.agg(
            F.sum(F.floor(sq).cast("bigint")).cast("bigint").alias(alias)
        )

    cxy = (
        xf.join(yf, "vec_id")
        .groupBy("p", "q")
        .agg(F.sum(F.col("v") * F.col("w")).cast("bigint").alias("c"))
    )
    a, b = xf.alias("a"), xf.alias("b")
    cxx = (
        a.join(b, "vec_id")
        .groupBy(F.col("a.p"), F.col("b.p"))
        .agg(F.sum(F.col("a.v") * F.col("b.v")).cast("bigint").alias("c"))
    )
    ya, yb = yf.alias("a"), yf.alias("b")
    cyy = (
        ya.join(yb, "vec_id")
        .groupBy(F.col("a.q"), F.col("b.q"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("bigint").alias("c"))
    )
    n_vec = e.agg(F.count("*").cast("bigint").alias("n_vec"))
    sxy = _fold(cxy, "frob2_xy_s")
    sxx = _fold(cxx, "frob2_xx_s")
    syy = _fold(cyy, "frob2_yy_s")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        F.broadcast(n_vec)
        .crossJoin(sxy)
        .crossJoin(F.broadcast(sxx))
        .crossJoin(F.broadcast(syy))
        .select(
            "n_vec",
            "frob2_xy_s",
            "frob2_xx_s",
            "frob2_yy_s",
            F.floor(
                d("frob2_xy_s")
                / (F.sqrt(d("frob2_xx_s")) * F.sqrt(d("frob2_yy_s")))
                * 1000000
            )
            .cast("bigint")
            .alias("cka_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Round 12: binary-sketch ANN (the fourth ANN scale path — sign bits
# packed into two int64 words, Hamming scan) and the Matryoshka
# energy-spectrum audit.
# ---------------------------------------------------------------------------

# Pack 32 sign bits into one bigint by a PURE-INTEGER ordered fold
# (acc*2 + bit over the reversed slice, zero-seeded): no float op
# anywhere, so cross-engine parity is trivial rather than argued.
_PACK_SPARK = (
    "aggregate(reverse(slice(embedding, {off}, 32)), 0L,"
    " (acc, x) -> acc * 2L + IF(x > CAST(0.0 AS FLOAT), 1L, 0L))"
)
_PACK_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(list_reverse(embedding[{off}:{end}]),"
    " x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT))),"
    " (a, b) -> a * 2 + b)"
)


@query(
    "sim_ann_hamming",
    f"""
    WITH packed AS (
        SELECT vec_id,
               {_PACK_DUCK.format(off=1, end=32)} AS h1,
               {_PACK_DUCK.format(off=33, end=64)} AS h2
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, h1 AS q1, h2 AS q2
        FROM packed WHERE vec_id < 30
    ), scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.q1, c.h1))
                    + bit_count(xor(q.q2, c.h2)) AS BIGINT) AS hamming
        FROM q JOIN packed c ON c.vec_id <> q.query_id
    ), shortlist AS (
        SELECT query_id, neighbor_id, hamming
        FROM (
            SELECT query_id, neighbor_id, hamming,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY hamming ASC,
                                               neighbor_id ASC) AS hrank
            FROM scored
        ) WHERE hrank <= 32
    ), rerank AS (
        SELECT s.query_id, s.neighbor_id, s.hamming,
               {_DUCK_DOT.format(a="qe.embedding", b="ce.embedding")}
                   AS dot
        FROM shortlist s
        JOIN embeddings qe ON qe.vec_id = s.query_id
        JOIN embeddings ce ON ce.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_k, hamming,
           CAST(FLOOR(dot * 10000) AS BIGINT) AS cosine_e4
    FROM (
        SELECT query_id, neighbor_id, hamming, dot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id ASC)
                   AS rank_k
        FROM rerank
    ) WHERE rank_k <= 3
    """,
)
def sim_ann_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-SKETCH ANN, two-stage (round 12): the FOURTH ANN scale
    path after LSH (candidate pruning), IVF (partition pruning) and
    PQ (memory compression) — 64 dims collapse to two int64 WORDS
    (32× smaller than float32); stage 1 is an xor+popcount Hamming
    scan at memory bandwidth with ZERO float ops producing a top-32
    shortlist; stage 2 exact-re-ranks the shortlist by cosine (the PQ
    ADC-then-re-rank discipline — a raw 1-bit sketch alone measured
    recall 0.147 on this mid-angle geometry; the re-ranked form is
    the production shape). Fully deterministic, so this ANN variant
    carries an EXACT oracle end-to-end.

    Exactness: the pack is an integer fold (acc·2+bit, zero-seeded,
    reversed slice so bit k carries weight 2^k); Hamming, shortlist
    rank and tiebreaks are pure integers; the re-rank dot is the
    shared left fold (_DUCK_DOT parity).

    Scale: the packed table is the at-rest artifact (2 bigints/vector
    — 100 TB of floats become ~3 TB of words); the bounded query set
    broadcasts, the scan is one narrow pass, and the float vectors
    are touched for only 32 candidates/query. Recall referee vs
    sim_topk_exact in tests/test_round12_ops.py."""
    e = load(spark, sf_dir, "embeddings")
    packed = e.select(
        "vec_id",
        F.expr(_PACK_SPARK.format(off=1)).alias("h1"),
        F.expr(_PACK_SPARK.format(off=33)).alias("h2"),
    )
    q = packed.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"),
        F.col("h1").alias("q1"),
        F.col("h2").alias("q2"),
    )
    scored = F.broadcast(q).join(
        packed, packed.vec_id != q.query_id
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.col("q1").bitwiseXOR(F.col("h1")))
            + F.bit_count(F.col("q2").bitwiseXOR(F.col("h2")))
        )
        .cast("bigint")
        .alias("hamming"),
    )
    wh = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("hrank", F.row_number().over(wh))
        .filter(F.col("hrank") <= 32)
        .select("query_id", "neighbor_id", "hamming")
    )
    qe = e.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    rerank = (
        shortlist.join(qe, "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        rerank.withColumn("rank_k", F.row_number().over(wr))
        .filter(F.col("rank_k") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "rank_k",
            "hamming",
            F.floor(F.col("dot") * 10000).cast("bigint").alias("cosine_e4"),
        )
    )


@query(
    "embed_prefix_energy",
    f"""
    WITH pv AS (
        SELECT label,
               {_DUCK_DOT.format(a="embedding[1:8]", b="embedding[1:8]")}
                   AS e8,
               {_DUCK_DOT.format(a="embedding[1:16]", b="embedding[1:16]")}
                   AS e16,
               {_DUCK_DOT.format(a="embedding[1:32]", b="embedding[1:32]")}
                   AS e32,
               {_DUCK_DOT.format(a="embedding", b="embedding")} AS e64
        FROM embeddings
    ), ratios AS (
        SELECT label,
               CASE WHEN e64 > 0
                    THEN CAST(FLOOR(e8 / e64 * 1000000) AS BIGINT)
               END AS r8,
               CASE WHEN e64 > 0
                    THEN CAST(FLOOR(e16 / e64 * 1000000) AS BIGINT)
               END AS r16,
               CASE WHEN e64 > 0
                    THEN CAST(FLOOR(e32 / e64 * 1000000) AS BIGINT)
               END AS r32
        FROM pv
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(r8) // COUNT(r8) AS BIGINT) AS mean_r8_e6,
           CAST(SUM(r16) // COUNT(r16) AS BIGINT) AS mean_r16_e6,
           CAST(SUM(r32) // COUNT(r32) AS BIGINT) AS mean_r32_e6
    FROM ratios GROUP BY label ORDER BY label
    """,
)
def embed_prefix_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA ENERGY SPECTRUM per label (round 12): what fraction
    of each vector's squared norm lives in the first 8/16/32 dims —
    the corpus-level readout that decides WHICH prefix length
    embed_matryoshka_truncate (pairwise cosine fidelity on a bounded
    sample) should be asked about: if mean_r16 is already 0.95, a
    16-dim candidate index is safe; if the energy is flat, MRL-style
    truncation will hurt at every length.

    Exactness: each prefix energy is the shared left-fold dot of a
    slice with itself (_DUCK_DOT parity); ratios floor e6 PER VECTOR
    before exact integer sums; the label means are integer DIV with
    NULL-guarded zero-norm vectors excluded from numerator and
    denominator alike.

    Scale: fully narrow per-row array math + one keyed rollup —
    no shuffle beyond the label agg."""
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding")

    def energy(n: int):
        s = F.slice(emb, 1, n) if n < 64 else emb
        return dot_product(s, s)

    pv = e.select(
        "label",
        energy(8).alias("e8"),
        energy(16).alias("e16"),
        energy(32).alias("e32"),
        energy(64).alias("e64"),
    )

    def ratio(c: str):
        return F.when(
            F.col("e64") > 0,
            F.floor(F.col(c) / F.col("e64") * 1000000).cast("bigint"),
        )

    ratios = pv.select(
        "label",
        ratio("e8").alias("r8"),
        ratio("e16").alias("r16"),
        ratio("e32").alias("r32"),
    )
    return (
        ratios.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.expr("CAST(sum(r8) DIV count(r8) AS BIGINT)").alias(
                "mean_r8_e6"
            ),
            F.expr("CAST(sum(r16) DIV count(r16) AS BIGINT)").alias(
                "mean_r16_e6"
            ),
            F.expr("CAST(sum(r32) DIV count(r32) AS BIGINT)").alias(
                "mean_r32_e6"
            ),
        )
        .orderBy("label")
    )


@query(
    "embed_direction_concentration",
    f"""
    WITH normed AS (
        SELECT label, vec_id, embedding,
               sqrt({_DUCK_DOT.format(a="embedding", b="embedding")})
                   AS nrm
        FROM embeddings
    ), comps AS (
        SELECT label, vec_id,
               unnest(list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) / nrm * 1000000)
                             AS BIGINT))) AS u_e6,
               generate_subscripts(embedding, 1) AS pos
        FROM normed WHERE nrm > 0
    ), sums AS (
        SELECT label, pos, CAST(SUM(u_e6) AS BIGINT) AS s
        FROM comps GROUP BY 1, 2
    ), counts AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM normed WHERE nrm > 0 GROUP BY 1
    ), res AS (
        SELECT s.label, c.n_vecs,
               CAST(SUM(CAST(s.s AS HUGEINT) * s.s) AS DECIMAL(38, 0))
                   AS ss
        FROM sums s JOIN counts c USING (label)
        GROUP BY 1, 2
    )
    SELECT label, n_vecs,
           CAST(FLOOR(root / n_vecs) AS BIGINT) AS resultant_e6,
           CASE WHEN 1.0 - rbar * rbar > 0
           THEN CAST(FLOOR(rbar * (64.0 - rbar * rbar)
                           / (1.0 - rbar * rbar) * 10000) AS BIGINT)
           END AS kappa_e4
    FROM (
        SELECT label, n_vecs,
               SQRT(CAST(ss AS DOUBLE)) AS root,
               SQRT(CAST(ss AS DOUBLE)) / (n_vecs * 1000000.0) AS rbar
        FROM res
    ) ORDER BY label
    """,
)
def embed_direction_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DIRECTIONAL CONCENTRATION per label (round 12): the mean
    resultant length R̄ = ‖Σ uᵢ‖/n of the UNIT vectors plus the
    Banerjee von-Mises-Fisher κ̂ = R̄(d−R̄²)/(1−R̄²) — directional
    statistics' answer to 'how tightly does this label point one
    way?'. embed_centroids measures spread AROUND the (magnitude-
    weighted) centroid; R̄ is magnitude-free — a label whose vectors
    agree in direction but vary in norm scores tight here and loose
    there, exactly the distinction cosine-retrieval quality cares
    about.

    Exactness: unit components quantize to e6 integers PER VECTOR
    (the norm is the shared left-fold self-dot, so the float chain
    is engine-identical before the floor); per-(label, pos) sums are
    exact bigints; Σ_pos S² accumulates in decimal(38,0)/HUGEINT (S²
    overflows int64 at sf10 label sizes — the gini lesson applied at
    design time); R̄ and κ̂ are one shared double chain, κ̂ gated on
    R̄ < 1; zero-norm vectors excluded on both sides.

    Scale: one narrow per-row transform + posexplode into a
    (label, pos)-keyed agg (64·|vecs| rows, the embed_centroids
    exchange) + a |labels|·64-row finish."""
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    nrm = F.sqrt(dot_product(emb, emb))
    normed = e.select("label", "vec_id", "embedding", nrm.alias("nrm"))
    comps = normed.filter(F.col("nrm") > 0).select(
        "label",
        F.posexplode(
            F.transform(
                emb,
                lambda x: F.floor(
                    x.cast("double") / F.col("nrm") * 1000000
                ).cast("bigint"),
            )
        ).alias("pos0", "u_e6"),
    )
    sums = comps.groupBy("label", "pos0").agg(
        F.sum("u_e6").cast("bigint").alias("s")
    )
    counts = (
        normed.filter(F.col("nrm") > 0)
        .groupBy("label")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )
    res = (
        sums.join(counts, "label")
        .groupBy("label", "n_vecs")
        .agg(
            F.sum(F.col("s").cast("decimal(38,0)") * F.col("s"))
            .cast("decimal(38,0)")
            .alias("ss"),
        )
    )
    root = F.sqrt(F.col("ss").cast("double"))
    rbar = root / (F.col("n_vecs") * 1000000.0)
    return res.select(
        "label",
        "n_vecs",
        F.floor(root / F.col("n_vecs")).cast("bigint").alias(
            "resultant_e6"
        ),
        F.when(
            1.0 - rbar * rbar > 0,
            F.floor(
                rbar * (64.0 - rbar * rbar) / (1.0 - rbar * rbar) * 10000
            ).cast("bigint"),
        ).alias("kappa_e4"),
    ).orderBy("label")


@query(
    "sim_lsh_recall_curve",
    f"""
    WITH {_lsh_index_sql_ctes()},
    q AS (
        SELECT vec_id AS query_id, table_id, bucket
        FROM lsh_index WHERE vec_id < 30
    ),
    cand AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM q JOIN lsh_index c USING (table_id, bucket)
        WHERE q.query_id <> c.vec_id
    ),
    truth AS (
        SELECT query_id, neighbor_id, rank_k FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_DUCK_DOT.format(a="a.embedding",
                                                  b="b.embedding")} DESC,
                                b.vec_id ASC) AS rank_k
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < 30
        ) WHERE rank_k <= 10
    ), hits AS (
        SELECT t.rank_k,
               CAST(COUNT(c.neighbor_id) AS BIGINT) AS n_hit,
               CAST(COUNT(*) AS BIGINT) AS n_tot
        FROM truth t
        LEFT JOIN cand c ON c.query_id = t.query_id
                        AND c.neighbor_id = t.neighbor_id
        GROUP BY t.rank_k
    )
    SELECT k,
           CAST(SUM(n_hit) AS BIGINT) AS n_hit,
           CAST(SUM(n_tot) AS BIGINT) AS n_truth,
           CAST(SUM(n_hit) * 1000000 // SUM(n_tot) AS BIGINT)
               AS recall_e6
    FROM hits
    CROSS JOIN (SELECT unnest([1, 3, 5, 10]) AS k)
    WHERE rank_k <= k
    GROUP BY k ORDER BY k
    """,
)
def sim_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH CANDIDATE-RECALL CURVE as a first-class EXACT query (round
    12): what fraction of the TRUE top-k cosine neighbors (k =
    1/3/5/10) does the 16-table index's candidate set contain?  This
    is the number that tunes tables-vs-planes — recall@1 high but
    recall@10 sagging means the bucket geometry catches near
    neighbors and loses the mid-field (add tables); until round 12
    this audit lived in pytest (rows-only recall referees); with the
    ordered-fold projections BOTH the index and the exact ranking are
    bit-deterministic, so the whole evaluation carries a hash-match
    oracle — ANN quality measured by a query you can schedule, not a
    test you have to run.

    Exactness: candidate set and truth ranking are both
    deterministic (literal planes; fold dots; rank tiebreaks);
    recall is an exact integer DIV e6 per k.

    Scale: candidate generation is the sim_ann_lsh equi-join; the
    truth side is queries×corpus (30-row bounded query set — the
    sim_topk_exact re-rank discipline, NEVER corpus×corpus)."""
    idx = _lsh_index(spark, sf_dir)
    q = idx.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    c = idx.select(
        F.col("vec_id").alias("neighbor_id"), "table_id", "bucket"
    )
    cand = (
        q.join(c, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    e = load(spark, sf_dir, "embeddings")
    qe = e.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    truth = (
        qe.join(ce, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
        )
        .withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= 10)
        .select("query_id", "neighbor_id", "rank_k")
    )
    hits = (
        truth.join(
            cand.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("rank_k")
        .agg(
            F.count("hit").cast("bigint").alias("n_hit"),
            F.count("*").cast("bigint").alias("n_tot"),
        )
    )
    ks = spark.range(0, 4).select(
        F.element_at(
            F.array(F.lit(1), F.lit(3), F.lit(5), F.lit(10)),
            (F.col("id") + 1).cast("int"),
        )
        .cast("bigint")
        .alias("k")
    )
    return (
        hits.crossJoin(F.broadcast(ks))
        .filter(F.col("rank_k") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum("n_hit").cast("bigint").alias("n_hit"),
            F.sum("n_tot").cast("bigint").alias("n_truth"),
            F.expr(
                "CAST(sum(n_hit) * 1000000 DIV sum(n_tot) AS BIGINT)"
            ).alias("recall_e6"),
        )
        .orderBy("k")
    )


@query(
    "embed_covariance_anisotropy",
    """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding[1:16],
                   e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000000)
                             AS BIGINT)) AS qv
        FROM embeddings
    ), pairs AS (
        SELECT u.i AS i, w.j AS j,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(qv[u.i] AS HUGEINT) * qv[w.j]) AS HUGEINT)
                   AS sxy
        FROM q,
             LATERAL (SELECT unnest(generate_series(1, 16)) AS i) u,
             LATERAL (SELECT unnest(generate_series(1, 16)) AS j) w
        WHERE w.j >= u.i
        GROUP BY 1, 2
    ), sums AS (
        SELECT u.i AS i, CAST(SUM(qv[u.i]) AS BIGINT) AS s_i
        FROM q,
             LATERAL (SELECT unnest(generate_series(1, 16)) AS i) u
        GROUP BY 1
    ), cov AS (
        SELECT p.i, p.j, p.n,
               CAST(p.n * p.sxy - CAST(a.s_i AS HUGEINT) * b.s_i
                    AS HUGEINT) AS cnum
        FROM pairs p
        JOIN sums a ON a.i = p.i
        JOIN sums b ON b.i = p.j
    ), mass AS (
        SELECT
            CAST(SUM(CASE WHEN i = j THEN
                CAST(FLOOR(CAST(cnum AS DOUBLE) * CAST(cnum AS DOUBLE)
                           / 1e36) AS BIGINT) ELSE 0 END) AS BIGINT)
                AS diag_mass_e36,
            CAST(SUM(CASE WHEN i < j THEN
                CAST(FLOOR(CAST(cnum AS DOUBLE) * CAST(cnum AS DOUBLE)
                           / 1e36) AS BIGINT) ELSE 0 END) AS BIGINT)
                AS offdiag_mass_e36,
            MAX(n) AS n_vecs
        FROM cov
    ), top AS (
        SELECT c.i AS top_i, c.j AS top_j,
               CAST(FLOOR(CAST(c.cnum AS DOUBLE)
                          / SQRT(CAST(di.cnum AS DOUBLE)
                                 * CAST(dj.cnum AS DOUBLE))
                          * 1000000) AS BIGINT) AS top_corr_e6
        FROM cov c
        JOIN cov di ON di.i = c.i AND di.j = c.i
        JOIN cov dj ON dj.i = c.j AND dj.j = c.j
        WHERE c.i < c.j AND di.cnum > 0 AND dj.cnum > 0
        ORDER BY ABS(c.cnum) DESC, c.i ASC, c.j ASC
        LIMIT 1
    )
    SELECT n_vecs, diag_mass_e36, offdiag_mass_e36,
           CAST((offdiag_mass_e36 * 1000000)
                // GREATEST(diag_mass_e36 + offdiag_mass_e36, 1)
                AS BIGINT) AS offdiag_share_e6,
           top_i, top_j, top_corr_e6
    FROM mass, top
    """,
)
def embed_covariance_anisotropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COVARIANCE ANISOTROPY of the 16-dim embedding prefix (round 12
    cont.): the off-diagonal share of the covariance Frobenius mass
    plus the single strongest dimension-pair correlation — the
    CROSS-dimension collapse diagnostic embed_dim_variance_profile
    (diagonal only) cannot see: an encoder can keep every per-dim
    variance healthy while two dimensions are near-copies, which
    wastes capacity and breaks the independence assumption behind
    embed_quantize_int8's per-dim scales and the matryoshka prefix
    claim.  Prefix-16 keeps the pair blowup d(d+1)/2 = 136 per
    vector — constant in SF (the matryoshka prefix discipline).

    Exactness: components quantize ONCE to e6 bigints (f32→double
    first, the round-9 ulp trap); pair products and the n·Σxy − SᵢSⱼ
    centered numerators run in HUGEINT/decimal(38,0) (the spearman
    discipline — cnum is ~1e24-scale); the Frobenius masses floor
    each cell's square (double, IEEE-identical) to e-36-scaled
    bigints BEFORE order-free sums; the share is an exact integer
    division; the top pair argmax compares EXACT decimal |cnum| with
    (i, j) tie-break, and its correlation is one gated double chain.

    Scale: one pass expanding each vector to its 136 prefix pairs
    JVM-side (flatten(transform(...)) — no self-join, no Python),
    then a 136-cell keyed rollup; everything after runs on ≤136
    rows."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select(
        F.expr(
            "transform(slice(embedding, 1, 16),"
            " v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("qv")
    )
    pairs_raw = q.select(
        F.explode(
            F.expr(
                "flatten(transform(qv, (x, i) ->"
                " transform(slice(qv, i + 1, size(qv) - i), (y, k) ->"
                " struct(i + 1 AS i, i + 1 + k AS j, x * y AS p))))"
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.p")
    d38 = "decimal(38,0)"
    pairs = pairs_raw.groupBy("i", "j").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("p").cast(d38)).alias("sxy"),
    )
    sums = (
        q.select(F.posexplode("qv").alias("i0", "v"))
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(F.sum("v").cast("bigint").alias("s_i"))
    )
    a = sums.select(F.col("i").alias("ai"), F.col("s_i").alias("sa"))
    b = sums.select(F.col("i").alias("bj"), F.col("s_i").alias("sb"))
    cov = (
        pairs.join(F.broadcast(a), F.col("i") == F.col("ai"))
        .join(F.broadcast(b), F.col("j") == F.col("bj"))
        .select(
            "i",
            "j",
            "n",
            (
                F.col("n").cast(d38) * F.col("sxy")
                - F.col("sa").cast(d38) * F.col("sb")
            ).alias("cnum"),
        )
    )
    sq_e36 = F.floor(
        F.col("cnum").cast("double") * F.col("cnum").cast("double") / 1e36
    ).cast("bigint")
    mass = cov.agg(
        F.sum(F.when(F.col("i") == F.col("j"), sq_e36).otherwise(0))
        .cast("bigint")
        .alias("diag_mass_e36"),
        F.sum(F.when(F.col("i") < F.col("j"), sq_e36).otherwise(0))
        .cast("bigint")
        .alias("offdiag_mass_e36"),
        F.max("n").alias("n_vecs"),
    )
    di = cov.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("di_i"), F.col("cnum").alias("var_i")
    )
    dj = cov.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("dj_j"), F.col("cnum").alias("var_j")
    )
    top = (
        cov.filter(F.col("i") < F.col("j"))
        .join(F.broadcast(di), F.col("i") == F.col("di_i"))
        .join(F.broadcast(dj), F.col("j") == F.col("dj_j"))
        .filter((F.col("var_i") > 0) & (F.col("var_j") > 0))
        .select(
            F.col("i").alias("top_i"),
            F.col("j").alias("top_j"),
            F.floor(
                F.col("cnum").cast("double")
                / F.sqrt(
                    F.col("var_i").cast("double")
                    * F.col("var_j").cast("double")
                )
                * 1000000
            )
            .cast("bigint")
            .alias("top_corr_e6"),
            F.abs(F.col("cnum")).alias("acnum"),
        )
        .orderBy(F.col("acnum").desc(), F.col("top_i").asc(), F.col("top_j").asc())
        .limit(1)
        .drop("acnum")
    )
    out = mass.crossJoin(F.broadcast(top))
    return out.select(
        "n_vecs",
        "diag_mass_e36",
        "offdiag_mass_e36",
        F.expr(
            "(offdiag_mass_e36 * 1000000)"
            " DIV GREATEST(diag_mass_e36 + offdiag_mass_e36, 1L)"
        ).alias("offdiag_share_e6"),
        "top_i",
        "top_j",
        "top_corr_e6",
    )


@query(
    "embed_triplet_margin",
    f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               c.vec_id AS neighbor_id, c.label AS c_label,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} AS dot
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 30
    ), ranked AS (
        SELECT query_id, q_label, neighbor_id, dot,
               CASE WHEN q_label = c_label THEN 1 ELSE 0 END AS same,
               row_number() OVER (
                   PARTITION BY query_id,
                                CASE WHEN q_label = c_label
                                     THEN 1 ELSE 0 END
                   ORDER BY dot DESC, neighbor_id ASC) AS rk
        FROM scored
    ), pos AS (
        SELECT query_id, q_label, neighbor_id AS pos_id,
               CAST(FLOOR(dot * 10000) AS BIGINT) AS pos_cos_e4
        FROM ranked WHERE same = 1 AND rk = 1
    ), neg AS (
        SELECT query_id, neighbor_id AS neg_id,
               CAST(FLOOR(dot * 10000) AS BIGINT) AS neg_cos_e4
        FROM ranked WHERE same = 0 AND rk = 1
    )
    SELECT p.query_id, p.q_label AS label, p.pos_id, n.neg_id,
           p.pos_cos_e4, n.neg_cos_e4,
           CAST(p.pos_cos_e4 - n.neg_cos_e4 AS BIGINT) AS margin_e4,
           CASE WHEN p.pos_cos_e4 > n.neg_cos_e4 THEN 1 ELSE 0 END
               AS satisfied
    FROM pos p JOIN neg n USING (query_id)
    ORDER BY p.query_id
    """,
)
def embed_triplet_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-margin audit over the labeled embedding corpus (round
    13): for each anchor, the hardest same-label positive (nearest by
    cosine) against the hardest other-label negative — margin =
    cos(a,p) − cos(a,n), the quantity a metric-learning loss
    (triplet/InfoNCE) drives positive. The per-anchor diagnostic
    behind embed_knn_loo_accuracy's aggregate: WHICH anchors violate
    (satisfied = 0) and by how much — the audit run before trusting
    labels as supervision or mining hard negatives for training.

    Exactness: dots are the shared _DUCK_DOT left fold; both picks
    are rank-1 windows tie-pinned (dot DESC, neighbor_id ASC); legs
    floor e4 BEFORE the integer margin/flag.

    Scale: the bounded-query × corpus scan of sim_topk_exact (the
    documented re-rank shape — at 100 TB anchors come from the ANN
    candidate index, same plan downstream); two keyed rank-1 windows,
    one join."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    scored = q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "q_label",
        "neighbor_id",
        F.when(F.col("q_label") == F.col("c_label"), 1)
        .otherwise(0)
        .alias("same"),
        dot_product(F.col("q_emb"), F.col("c_emb")).alias("dot"),
    )
    w = Window.partitionBy("query_id", "same").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    pos = ranked.filter(F.col("same") == 1).select(
        "query_id",
        F.col("q_label").alias("label"),
        F.col("neighbor_id").alias("pos_id"),
        F.floor(F.col("dot") * 10000).cast("bigint").alias("pos_cos_e4"),
    )
    neg = ranked.filter(F.col("same") == 0).select(
        "query_id",
        F.col("neighbor_id").alias("neg_id"),
        F.floor(F.col("dot") * 10000).cast("bigint").alias("neg_cos_e4"),
    )
    return (
        pos.join(neg, "query_id")
        .select(
            "query_id",
            "label",
            "pos_id",
            "neg_id",
            "pos_cos_e4",
            "neg_cos_e4",
            (F.col("pos_cos_e4") - F.col("neg_cos_e4"))
            .cast("bigint")
            .alias("margin_e4"),
            F.when(F.col("pos_cos_e4") > F.col("neg_cos_e4"), 1)
            .otherwise(0)
            .alias("satisfied"),
        )
        .orderBy("query_id")
    )
