"""SURVEY §2.10 — deduplication for training-data pipelines (MANDATE).

Four dedup families over `documents`/`embeddings`, each chosen for a
different scale/recall tradeoff:

- exact (hash-groupBy): one shuffle on a 32-byte digest; THE first
  pass at 100 TB (shuffling digests, never text).
- n-gram Jaccard (exact, bucketed): exact set similarity, but only
  within candidate buckets so the pair space stays linear-ish.
- MinHash+LSH: sub-quadratic near-dup at any scale — signatures are
  fixed-size (n_hashes ints) per doc, bands bucket candidates, exact
  Jaccard verifies. The scale path for fuzzy dedup.
- SimHash: 64-bit fingerprint, hamming-radius candidates; cheapest
  signature, coarsest recall.
- embedding-cosine: semantic near-dup on vectors (bounded brute-force
  here; the 100 TB path is the LSH prefilter of llm_similarity).

All Spark sides are pure DataFrame ops — signatures via F.hash/F.md5,
set math via explode+join, no UDFs, no driver-side loops.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphsense_datafeed_spark.functions.hashing import md5_int
from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.sources.tables import load


@query(
    "dedup_exact",
    """
    SELECT h, keep_id, n_copies FROM (
        SELECT sha256(text) AS h, MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    )
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content hash → min-doc_id-wins survivor per hash.
    (8 known exact duplicates exist at sf0.1 — asserted in
    tests/test_llm.py.)"""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@query(
    "dedup_ngram_jaccard",
    """
    WITH words AS (
        SELECT doc_id, source, unnest(list_distinct(str_split(text, ' '))) AS w
        FROM documents WHERE doc_id < 120
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id
    ), commons AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM words a JOIN words b
          ON a.w = b.w AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(FLOOR(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 10000) AS BIGINT)
               AS jaccard_e4
    FROM commons
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard between documents, bucketed by `source`
    so the candidate pair space is per-bucket (the all-pairs version is
    quadratic and never acceptable at scale). Set math by
    explode+equi-join — shuffles on the token, not on pairs."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "source", F.explode(F.array_distinct(F.split("text", " "))).alias("w"))
    )
    sizes = d.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = d.alias("a"), d.alias("b")
    commons = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("c")
    )
    return (
        commons.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.2)
        .select(
            "doc_a",
            "doc_b",
            F.floor(jac * 10000).cast("bigint").alias("jaccard_e4"),
        )
    )


# MinHash parameters: 16 hashes → 8 bands × 2 rows. Band collision
# P = j², overall recall 1-(1-j²)⁸: ≈0.90 at j=0.5, ≈1.0 at j≥0.8.
# Tuned against the MEASURED corpus similarity profile: the fixture
# vocabulary is tiny (31 words), so word-SET Jaccard between unrelated
# docs averages 0.63 (useless signal), while 3-word SHINGLE Jaccard
# averages 0.009 with max 0.05 — shingles encode order and are the
# discriminating signature. (Measured at sf0.1; see commit history.)
_N_HASHES = 16
_N_BANDS = 8
_ROWS_PER_BAND = _N_HASHES // _N_BANDS

# Bounded persist for the fuzzy-dedup pipeline, keyed per
# (session, sf_dir) with the documents-file fingerprint as the value
# guard: a regenerated fixture misses and rebuilds (tables.py
# discipline), an unchanged fixture REUSES — dedup_clusters and
# dedup_apply nest dedup_near, so one shingle-array build serves all
# three. Values are (fingerprint, DataFrame); superseded entries are
# unpersisted on replacement.
_ARR_CACHE: dict[tuple[int, str], tuple[str, DataFrame]] = {}


def _docs_fingerprint(sf_dir: str) -> str:
    from graphsense_datafeed_spark.sources.tables import (
        path_for,
        source_fingerprint,
    )

    return source_fingerprint(path_for(sf_dir, "documents"))


def _cached_persist(cache, spark, sf_dir, fp, build):
    """Fingerprint-guarded persist memo: hit → reuse, miss/stale →
    unpersist the superseded entry and rebuild. Entries belonging to
    STOPPED sessions are swept on every miss — a new session gets a
    new id(), so a dead session's entries could never hit again and
    would otherwise pin their DataFrames (and the session object) for
    process lifetime (round-5 code-review find)."""
    key = (id(spark), sf_dir.rstrip("/"))
    hit = cache.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    if hit is not None:
        hit[1].unpersist()
    for k in [k for k in cache if k != key]:
        df_old = cache[k][1]
        try:
            stopped = df_old.sparkSession.sparkContext._jsc.sc().isStopped()
        except Exception:
            # probe unavailable (e.g. Spark Connect) → assume LIVE and
            # keep: popping a live entry would orphan its persisted
            # data server-side (review find)
            continue
        if stopped:
            cache.pop(k, None)
    df = build().persist()
    cache[key] = (fp, df)
    return df


def shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, arr, n) — the distinct 3-word shingle SET per document,
    kept as an array column (narrow op, no explode).

    Overlapping shingles come from ONE codegen'd regexp pass: the
    zero-width lookahead ``(?=(\\S+ \\S+ \\S+))`` captures a 3-word
    window at every position the lookbehind ``(?<!\\S)`` certifies as
    a word start. This replaced a higher-order ``F.transform`` lambda
    over the split array: HOF lambdas are interpreted (never reach
    whole-stage codegen) and measured ~30% slower on the sf0.1 corpus
    even after hoisting the split. Output is bit-identical on
    single-space-tokenized text (verified corpus-wide); the regex
    treats a multi-space run as a shingle boundary where the lambda
    emitted empty tokens — the regex behavior is the correct one."""
    return docs.select(
        "doc_id",
        F.array_distinct(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"(?<!\S)(?=(\S+ \S+ \S+))"), 1
            )
        ).alias("arr"),
    ).select("doc_id", "arr", F.size("arr").alias("n"))


def shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, s) — distinct 3-word shingles per document, one row per
    shingle (the exploded view of shingle_arrays)."""
    return shingle_arrays(docs).select("doc_id", F.explode("arr").alias("s"))


# Universal-hash family for MinHash, chosen to be ENGINE-PORTABLE so
# the whole MinHash→LSH→verify pipeline hash-matches a DuckDB oracle:
# base(s) = first 28 bits of md5(s) (md5 hex is identical in every
# engine; 28 bits keeps every product below 2^59 — no bigint overflow
# under Spark's ANSI mode), then h_i(s) = (a_i·base + b_i) mod P with
# P = 2^31-1 (Mersenne prime) and seeded (a_i, b_i) shared verbatim by
# the Spark expressions and the oracle SQL. Spark's hash(s, seed)
# (xxhash-family) would be faster per call but exists in no other
# engine — the one-md5-then-16-mults shape costs one digest per
# shingle and keeps exactness testable.
_MINHASH_P = (1 << 31) - 1
import random as _random  # noqa: E402  (stdlib, seeded, import-local)

_rng = _random.Random(42)
_MINHASH_AB = [
    (_rng.randrange(1, _MINHASH_P), _rng.randrange(0, _MINHASH_P))
    for _ in range(_N_HASHES)
]
del _rng


def minhash_signatures_from_arrays(arrs: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>) — MinHash over a shingle-ARRAY
    table with ZERO exchange: the md5 base hash is materialized once
    per array, then each of the 16 universal hashes is an `array_min`
    over a `transform` — all narrow per-row HOF math, no explode, no
    groupBy shuffle.

    It replaced an explode + groupBy(min) variant that measured 0.67 s
    against this one's 0.61 s at sf0.1 warm, with bit-identical output.
    At 100 TB the gain is structural: the signature table materializes
    with map-only parallelism, no shuffle of |shingles| rows and no
    aggregation buffers. Docs with zero shingles (text shorter than 3
    words) are filtered out, as the oracle's GROUP BY drops them (no
    shingle rows → no signature row)."""
    bases = F.transform(F.col("arr"), lambda s: md5_int(s, digits=7))
    withb = arrs.filter(F.col("n") >= 1).select("doc_id", bases.alias("bases"))
    mins = [
        F.array_min(
            F.transform(
                F.col("bases"), lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_MINHASH_P)
            )
        )
        for a, b in _MINHASH_AB
    ]
    return withb.select("doc_id", F.array(*mins).alias("sig"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    return minhash_signatures_from_arrays(shingle_arrays(docs))


def band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) — the banded-LSH bucket assignment
    shared by the self-join (lsh_candidate_pairs) and the two-table
    join (lsh_similarity_join). Band key = positional mix of the
    band's signature mins (h_even·P + h_odd < 2^62 — exact in bigint,
    and engine-portable unlike hash(); collision-free by construction,
    not just w.h.p.)."""
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    sum(
                        F.col("sig")[b * _ROWS_PER_BAND + r]
                        * F.lit(_MINHASH_P ** (_ROWS_PER_BAND - 1 - r))
                        for r in range(_ROWS_PER_BAND)
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band_id", "band_key"),
    )


def lsh_candidate_pairs(sig: DataFrame, max_bucket: int | None = 256) -> DataFrame:
    """(doc_a, doc_b) candidates: docs sharing ≥1 LSH band bucket.

    Bands explode to |docs|×n_bands rows; everything downstream is
    keyed on (band_id, band_key), so the whole stage rides ONE
    exchange: a count aggregate sizes each bucket (map-side partial —
    per-mapper state is one long per distinct bucket, never the rows),
    the co-partitioned join back filters to surviving buckets with a
    ReusedExchange (no second shuffle of the band rows, no window
    sort — the previous window-count + self-join variant paid both and
    measured ~30% slower), and a collect_list + double-explode emits
    the intra-bucket pairs. collect_list only ever sees buckets the
    count already certified ≤ ``max_bucket``, so its aggregation
    buffer is bounded even against a degenerate all-identical corpus.

    A crushingly hot bucket (boilerplate docs) is the known failure
    mode at scale: one bucket of b docs emits b²/2 pairs no matter how
    big the cluster — ``max_bucket`` drops those before pair
    generation. The docs a dropped bucket contains are near-identical
    by construction — the EXACT-dedup pass (one shuffle of content
    hashes) is the right tool for them, not pairwise Jaccard; pass
    ``max_bucket=None`` to disable the cap (singleton buckets are
    still pruned — they cannot produce a pair). Capped-bucket behavior
    asserted in tests/test_llm.py with a planted 300-identical-doc
    bucket."""
    bands = band_keys(sig)
    sized = bands.groupBy("band_id", "band_key").agg(F.count("*").alias("n"))
    keep = sized.filter(F.col("n") >= 2)
    if max_bucket is not None:
        keep = keep.filter(F.col("n") <= max_bucket)
    buckets = (
        bands.join(keep.select("band_id", "band_key"), ["band_id", "band_key"])
        .groupBy("band_id", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    return (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


# dedup_near's oracle replicates the ENTIRE pipeline in SQL — possible
# because the minhash family is md5-based universal hashing rather than
# an engine hash. The (a_i, b_i) literals below come from the same
# _MINHASH_AB list the Spark expressions use.
_DEDUP_NEAR_ORACLE = f"""
    WITH ws AS (
        SELECT doc_id, str_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS s
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM ws)
    ), hb AS (
        SELECT doc_id, s,
               CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS hbase
        FROM sh
    ), sig AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(({a} * hbase + {b}) % {_MINHASH_P}) AS h{i}"
                   for i, (a, b) in enumerate(_MINHASH_AB)
               )}
        FROM hb GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, bd.band_id,
               [{", ".join(
                   f"h{2 * b} * {_MINHASH_P} + h{2 * b + 1}"
                   for b in range(_N_BANDS)
               )}][bd.band_id + 1] AS band_key
        FROM sig
        CROSS JOIN (SELECT unnest(range(0, {_N_BANDS})) AS band_id) bd
    ), sized AS (
        SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
        HAVING COUNT(*) BETWEEN 2 AND 256
    ), pruned AS (
        SELECT bands.* FROM bands JOIN sized USING (band_id, band_key)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ), nsh AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS c
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(FLOOR(CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) * 10000)
                AS BIGINT) AS jaccard_e4
    FROM inter i
    JOIN nsh na ON na.doc_id = i.doc_a
    JOIN nsh nb ON nb.doc_id = i.doc_b
    WHERE CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) >= 0.5
"""


@query("dedup_near", _DEDUP_NEAR_ORACLE)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: signature → band buckets → candidate
    pairs → EXACT shingle-Jaccard verification of candidates only.
    EXACT oracle: the md5-based universal-hash family makes every
    stage (signatures, band keys, bucket caps, candidate pairs,
    verified Jaccard) SQL-replicable — the driver hash-matches the
    full pipeline, not just row counts. tests/test_llm.py additionally
    plants near-duplicates and asserts recall for Jaccard ≥ 0.8 pairs
    plus exact-dup detection at sf0.1."""
    # repartition: the fixture is a single parquet file → a single
    # input split → the (CPU-bound) shingle explode would run on ONE
    # core. On a cluster the scan has many splits and this is a no-op
    # cost-wise; locally it fans the work across all slots.
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    # What persists is the shingle-ARRAY table: it feeds the
    # signature pass AND both verify sides, so one corpus text scan
    # serves the whole pipeline. The round-5 A/B against the
    # "persist signatures, re-shingle only candidate docs" redesign
    # (the r4 verdict's proposal — persisted state shrinks from
    # O(corpus text) to O(docs×16 longs)) measured the redesign ~0.6 s
    # SLOWER in-suite at sf0.1 (3.9 s mean over 8 runs vs 3.3 s over 3
    # interleaved runs): its second corpus scan plus the extra
    # broadcast barriers cost more than the array cache's memory
    # pressure ever did on this box, replicating the r2 finding for
    # the candidate-PAIR variant (2× slower). Documented, not shipped.
    # At 100 TB the persisted table becomes the standard on-disk
    # shingle/signature materialization between passes — same plan,
    # disk instead of RAM. Unlike rounds 2-4 (pop+rebuild per call)
    # the persist is fingerprint-GUARDED: dedup_clusters / dedup_apply
    # nest this pipeline and now reuse the arrays instead of
    # recomputing them, and a regenerated fixture still misses and
    # rebuilds (tables.py discipline).
    fp = _docs_fingerprint(sf_dir)
    arrs = _cached_persist(
        _ARR_CACHE, spark, sf_dir, fp, lambda: shingle_arrays(docs)
    )
    # Signatures are the zero-exchange narrow HOF pass over the
    # persisted arrays (see minhash_signatures); candidate generation
    # rides one reused exchange (see lsh_candidate_pairs).
    cands = lsh_candidate_pairs(minhash_signatures_from_arrays(arrs))
    # Exact-Jaccard verification on the candidate pairs only: the tiny
    # pair table is broadcast against the shingle-array table twice,
    # and the intersection is a per-row codegen'd array_intersect — no
    # explode re-shuffle, no groupBy. At 100 TB the broadcast stays
    # valid as long as the candidate count does (bounded by the bucket
    # caps), and the fallback is a shuffle equi-join on doc_id — still
    # linear in candidates, never in pairs².
    a = arrs.select(
        F.col("doc_id").alias("a_id"), F.col("arr").alias("arr_a"), F.col("n").alias("na")
    )
    b = arrs.select(
        F.col("doc_id").alias("b_id"), F.col("arr").alias("arr_b"), F.col("n").alias("nb")
    )
    c = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    jac = c.cast("double") / (F.col("na") + F.col("nb") - c)
    return (
        a.join(F.broadcast(cands), F.col("a_id") == F.col("doc_a"))
        .join(b, F.col("b_id") == F.col("doc_b"))
        .filter(jac >= 0.5)
        .select(
            "doc_a", "doc_b", F.floor(jac * 10000).cast("bigint").alias("jaccard_e4")
        )
    )


def lsh_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.5,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Generic banded-LSH similarity JOIN (VERDICT r12 item 7): two
    text tables in — each with (doc_id, text) — verified near-dup
    pairs out as (left_id, right_id, jaccard_e4). The reusable form of
    the dedup_near pipeline: shingle → MinHash → band keys on EACH
    side, candidates = an EQUI-join on (band_id, band_key), exact
    shingle-Jaccard verify of candidates only. Pipeline users compose
    "join new batch against corpus" without re-deriving the banding.

    Differences from the self-join (lsh_candidate_pairs): a bucket is
    a candidate source when it appears on BOTH sides (no ≥2-per-side
    floor — one left doc meeting one right doc is a valid pair), and
    the hot-bucket cap applies PER SIDE, bounding per-bucket fan-out
    at cap² no matter how degenerate either corpus is.

    Scale: band assignment is narrow per-side; bucket sizing is one
    partial-aggregated count per side; the candidate join is a hash
    equi-join on (band_id, band_key) — never a cross product; the
    verify stage broadcasts the (bucket-capped, hence bounded)
    candidate pair table against each side's shingle arrays. The same
    shape as dedup_near, which holds its sf10 readings corpus-linearly
    (SCALE.md)."""
    la = shingle_arrays(left)
    ra = shingle_arrays(right)
    lb = band_keys(minhash_signatures_from_arrays(la))
    rb = band_keys(minhash_signatures_from_arrays(ra)).select(
        F.col("doc_id").alias("r_doc_id"), "band_id", "band_key"
    )
    keys = ["band_id", "band_key"]
    lsz = lb.groupBy(*keys).agg(F.count("*").alias("nl"))
    rsz = rb.groupBy(*keys).agg(F.count("*").alias("nr"))
    keep = lsz.join(rsz, keys)
    if max_bucket is not None:
        keep = keep.filter(
            (F.col("nl") <= max_bucket) & (F.col("nr") <= max_bucket)
        )
    cands = (
        lb.join(keep.select(*keys), keys)
        .join(rb, keys)
        .select(
            F.col("doc_id").alias("left_id"),
            F.col("r_doc_id").alias("right_id"),
        )
        .distinct()
    )
    a = la.select(
        F.col("doc_id").alias("a_id"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("na"),
    )
    b = ra.select(
        F.col("doc_id").alias("b_id"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("nb"),
    )
    c = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    jac = c.cast("double") / (F.col("na") + F.col("nb") - c)
    return (
        a.join(F.broadcast(cands), F.col("a_id") == F.col("left_id"))
        .join(b, F.col("b_id") == F.col("right_id"))
        .filter(jac >= threshold)
        .select(
            "left_id",
            "right_id",
            F.floor(jac * 10000).cast("bigint").alias("jaccard_e4"),
        )
    )


# The demo split: even doc_ids play the at-rest corpus, odd doc_ids the
# incoming batch — the "screen a new ingest batch for near-dup
# contamination against the corpus" shape. The oracle replicates the
# full two-table pipeline with the same md5 universal-hash literals.
_LSH_JOIN_ORACLE = f"""
    WITH ws AS (
        SELECT doc_id, str_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS s
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM ws)
    ), hb AS (
        SELECT doc_id, s,
               CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS hbase
        FROM sh
    ), sig AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(({a} * hbase + {b}) % {_MINHASH_P}) AS h{i}"
                   for i, (a, b) in enumerate(_MINHASH_AB)
               )}
        FROM hb GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, bd.band_id,
               [{", ".join(
                   f"h{2 * b} * {_MINHASH_P} + h{2 * b + 1}"
                   for b in range(_N_BANDS)
               )}][bd.band_id + 1] AS band_key
        FROM sig
        CROSS JOIN (SELECT unnest(range(0, {_N_BANDS})) AS band_id) bd
    ), lbands AS (
        SELECT * FROM bands WHERE doc_id % 2 = 0
    ), rbands AS (
        SELECT * FROM bands WHERE doc_id % 2 = 1
    ), lsz AS (
        SELECT band_id, band_key FROM lbands GROUP BY 1, 2
        HAVING COUNT(*) <= 256
    ), rsz AS (
        SELECT band_id, band_key FROM rbands GROUP BY 1, 2
        HAVING COUNT(*) <= 256
    ), cand AS (
        SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
        FROM lbands l
        JOIN rbands r USING (band_id, band_key)
        JOIN lsz USING (band_id, band_key)
        JOIN rsz USING (band_id, band_key)
    ), nsh AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT c.left_id, c.right_id, COUNT(*) AS c
        FROM cand c
        JOIN sh x ON x.doc_id = c.left_id
        JOIN sh y ON y.doc_id = c.right_id AND y.s = x.s
        GROUP BY c.left_id, c.right_id
    )
    SELECT i.left_id, i.right_id,
           CAST(FLOOR(CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) * 10000)
                AS BIGINT) AS jaccard_e4
    FROM inter i
    JOIN nsh na ON na.doc_id = i.left_id
    JOIN nsh nb ON nb.doc_id = i.right_id
    WHERE CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) >= 0.5
"""


@query("join_lsh_similarity", _LSH_JOIN_ORACLE)
def join_lsh_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reusable LSH-join operator as a registered query (VERDICT
    r12 item 7 — §2.3's one structural gap): lsh_similarity_join()
    applied to the even/odd doc_id split of the documents table (the
    "screen an incoming batch against the at-rest corpus" shape; the
    fixture's planted near-dups straddle the parity split, so the
    result is non-degenerate). EXACT oracle: same md5 universal-hash
    discipline as dedup_near — signatures, band keys, per-side caps,
    candidates and verified Jaccard all hash-match the two-table SQL.

    Scale: see lsh_similarity_join — banded equi-join, per-side
    bucket caps, broadcast candidate verify; no cartesian anywhere
    (pinned in tests/test_round13_ops.py)."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    return lsh_similarity_join(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


# SimHash geometry: 60 bits (the top 15 hex chars of md5 — 60 bits
# keeps every intermediate in signed-bigint range with NO sign-bit
# special case, and md5 makes the bit source engine-portable like the
# MinHash family above), 4 blocks × 15 bits for the hamming-≤3
# pigeonhole bucketing.
_SIMHASH_BITS = 60
_SIMHASH_BLOCKS = 4
_SIMHASH_BW = 15
_SIMHASH_MASK = (1 << _SIMHASH_BW) - 1

_DEDUP_SIMHASH_ORACLE = f"""
    WITH ws AS (
        SELECT doc_id, str_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS s
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM ws)
    ), hb AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
        FROM sh
    ), votes AS (
        SELECT doc_id,
               {", ".join(
                   f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
                   for i in range(_SIMHASH_BITS)
               )}
        FROM hb GROUP BY doc_id
    ), fp AS (
        SELECT doc_id,
               {" + ".join(
                   f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) "
                   f"ELSE 0 END)"
                   for i in range(_SIMHASH_BITS)
               )} AS fp
        FROM votes
    ), blocks AS (
        SELECT doc_id, fp, b.block_id,
               (fp >> ({_SIMHASH_BW} * b.block_id)) & {_SIMHASH_MASK}
                   AS block_val
        FROM fp
        CROSS JOIN (SELECT unnest(range(0, {_SIMHASH_BLOCKS})) AS block_id) b
    ), cand AS (
        SELECT DISTINCT p.doc_id AS doc_a, q.doc_id AS doc_b,
               p.fp AS fp_a, q.fp AS fp_b
        FROM blocks p JOIN blocks q
          ON p.block_id = q.block_id AND p.block_val = q.block_val
         AND p.doc_id < q.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


@query("dedup_simhash", _DEDUP_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 60-bit per-doc fingerprint = sign of per-bit vote sums
    over md5 shingle hashes; candidate pairs = hamming distance ≤ 3
    within 15-bit block buckets (a hamming-≤3 pair must agree on ≥1 of
    4 blocks — pigeonhole). EXACT oracle (round 3): all-integer md5
    bit math is engine-portable, so fingerprints, block buckets and
    hamming distances hash-match SQL. Planted-pair recall in tests.

    Pure-DF bit math: explode (doc, shingle) → 60 vote-sum aggregate
    expressions — NOT a 60-way row explode (which would multiply the
    shuffle by 60; measured 64×260k=16.6M rows and a straggler stage).
    Partial aggregation compacts each partition to |docs|×60 ints
    pre-shuffle; one shuffle on doc_id."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    # 3-shingle features, not words: the fixture vocabulary is 31
    # words, so word-level fingerprints collide corpus-wide (measured —
    # see _N_HASHES note above); shingles encode order and separate.
    feats = shingles(docs)
    h = md5_int(F.col("s"), digits=15)
    votes = feats.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(_SIMHASH_BITS)
        ]
    )
    fp_expr = None
    for i in range(_SIMHASH_BITS):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp_expr = term if fp_expr is None else fp_expr + term
    fp = votes.select("doc_id", fp_expr.alias("fp"))
    blocks = fp.select(
        "doc_id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("fp", _SIMHASH_BW * k)
                    .bitwiseAND(F.lit(_SIMHASH_MASK))
                    .cast("bigint")
                    for k in range(_SIMHASH_BLOCKS)
                ]
            )
        ).alias("block_id", "block_val"),
    )
    p, q = blocks.alias("p"), blocks.alias("q")
    cand = (
        p.join(
            q,
            (F.col("p.block_id") == F.col("q.block_id"))
            & (F.col("p.block_val") == F.col("q.block_val"))
            & (F.col("p.doc_id") < F.col("q.doc_id")),
        )
        .select(
            F.col("p.doc_id").alias("doc_a"),
            F.col("q.doc_id").alias("doc_b"),
            F.col("p.fp").alias("fp_a"),
            F.col("q.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.filter(hamming <= 3).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


@query(
    "dedup_embed",
    """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(FLOOR(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                    p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) * 10000)
               AS BIGINT) AS cosine_e4
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 150 AND b.vec_id < 150
      AND list_reduce(list_transform(list_zip(a.embedding, b.embedding),
              p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) >= 0.35
    """,
)
def dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs above a cosine threshold
    (unit-norm
    vectors → cosine ≡ dot; 0.35 sits above the fixture's random-pair
    baseline ≈0 and inside its top-neighbor band 0.33-0.6 — real
    corpora with actual duplicates would use 0.9+). Brute-force pair
    space deliberately bounded; at scale the LSH bucketing of
    sim_ann_lsh prefilters."""
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 150)
        .select("vec_id", "embedding")
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.embedding"), F.col("b.embedding"), lambda x, y: x.cast("double") * y
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            dot.alias("dot"),
        )
        .filter(F.col("dot") >= 0.35)
        .select(
            "vec_a", "vec_b", F.floor(F.col("dot") * 10000).cast("bigint").alias("cosine_e4")
        )
    )


@query(
    "dedup_edit_distance",
    """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM documents a JOIN documents b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE a.doc_id < 60 AND b.doc_id < 60
      AND levenshtein(a.text, b.text) <= 40
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup: Levenshtein between documents of the
    same source bucket (bounded query set). Character-level distance
    catches the small-insertion/typo duplicates that shingle Jaccard
    under-weights on short texts; both engines implement the classic
    DP, so the oracle is exact.

    Scale: Levenshtein is O(len²) per pair — it is NEVER the first
    pass. Production ordering is exact-hash → MinHash bands →
    edit-distance only on surviving candidates (this query's bucketed
    join stands in for that candidate set; the bound keeps the pair
    count linear-ish)."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "source", "text")
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.text"), F.col("b.text")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 40)
    )


@query(
    "dedup_prefix_filter",
    """
    WITH ws AS (
      SELECT doc_id, str_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                for i in generate_series(1, len(w) - 2)]
             )) AS s
      FROM ws WHERE len(w) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), commons AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(FLOOR(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 10000) AS BIGINT)
               AS jaccard_e4
    FROM commons
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """,
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-Jaccard ≥ 0.5 join via prefix filtering (the
    AllPairs/PPJoin family) — the third point in the near-dup design
    space: MinHash-LSH is probabilistic-recall, brute-force is exact
    but quadratic, prefix filtering is exact AND sub-quadratic.

    The filter: order every document's shingles by global rarity
    (document frequency asc, shingle asc — one canonical order for the
    whole corpus); if jac(A,B) ≥ τ, the first |A|−⌈τ·|A|⌉+1 shingles
    of A and the like prefix of B must share at least one element
    (pigeonhole on the ≥τ overlap), so candidates = docs sharing a
    PREFIX shingle, not any shingle. Rare-first ordering makes those
    prefixes the least-shared shingles — candidate fan-out collapses
    versus the plain token join. Verification on candidates recovers
    the driver-checked EXACT answer: this oracle is the full
    brute-force intersection join, and the prefix plan must reproduce
    it bit-for-bit (no recall bound — it is a theorem, and the t2
    hash-match is the proof obligation).

    Scale: the df table is vocabulary-sized (broadcast here; at 100 TB
    it is the dictionary table you'd co-partition by shingle hash);
    the candidate join shuffles on prefix shingles only; verification
    is array_intersect on the bounded candidate set, as dedup_near.
    """
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    arrs = shingle_arrays(docs)
    sh = arrs.select("doc_id", F.explode("arr").alias("s"))
    df_tab = sh.groupBy("s").agg(F.count("*").alias("df"))
    ordered = (
        sh.join(F.broadcast(df_tab), "s")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "s"))).alias("by_rarity"),
            F.count("*").alias("n"),
        )
        .select(
            "doc_id",
            F.transform(
                F.slice(
                    "by_rarity",
                    1,
                    (F.col("n") - F.ceil(F.col("n") * F.lit(0.5)) + 1).cast("int"),
                ),
                lambda x: x["s"],
            ).alias("prefix"),
        )
    )
    pre = ordered.select("doc_id", F.explode("prefix").alias("s"))
    pa, pb = pre.alias("pa"), pre.alias("pb")
    cands = (
        pa.join(
            pb,
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a = arrs.select(
        F.col("doc_id").alias("a_id"), F.col("arr").alias("arr_a"), F.col("n").alias("na")
    )
    b = arrs.select(
        F.col("doc_id").alias("b_id"), F.col("arr").alias("arr_b"), F.col("n").alias("nb")
    )
    c = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    jac = c.cast("double") / (F.col("na") + F.col("nb") - c)
    return (
        a.join(F.broadcast(cands), F.col("a_id") == F.col("doc_a"))
        .join(b, F.col("b_id") == F.col("doc_b"))
        .filter(jac >= 0.5)
        .select(
            "doc_a", "doc_b", F.floor(jac * 10000).cast("bigint").alias("jaccard_e4")
        )
    )


# --- semantic (embedding) dedup with a SQL-expressible prefilter ------

_SEM_BANDS = 16  # bands of sign bits over the leading 64 components
_SEM_BW = 4  # bits per band
_SEM_TAU = 0.30  # cosine keep-threshold (fixture corpus is random
#                  unit vectors, max pairwise cos ≈ 0.51 — real dedup
#                  runs at 0.9+; the MECHANISM is threshold-agnostic)
_SEM_MAX_BUCKET = 256  # hot-bucket kill, same rationale as MinHash LSH


def semantic_dedup_frame(
    e: DataFrame,
    bands: int = _SEM_BANDS,
    bw: int = _SEM_BW,
    tau: float = _SEM_TAU,
    max_bucket: int = _SEM_MAX_BUCKET,
) -> DataFrame:
    """Semantic near-dup removal over an (vec_id, embedding) frame:
    banded sign-bit LSH prefilter → exact-cosine verify → keep the
    lowest vec_id per duplicate cluster (the SemDeDup-style greedy
    canonicalization: a vector is removed iff some LOWER-id vector is
    within the cosine threshold; emitted with that keeper and score).

    Unlike the random-hyperplane LSH of sim_ann_lsh, the bucketing here
    is axis-aligned sign bits — deliberately: it is expressible in
    plain SQL, so the WHOLE pipeline (bucket → candidate join → exact
    cosine → canonical keeper) gets an exact DuckDB oracle instead of a
    rows-only check. Recall at the demo threshold is ~92% on the
    fixture corpus (measured); true near-dups (cos ≥ 0.9) agree on
    nearly all sign bits and are caught with probability ≈ 1.

    Scale shape: one narrow projection computes 16 band keys per
    vector, posexplode ×16, equi-join per (band, key) — shuffles on
    band keys, never on pairs². Bucket caps bound the worst bucket;
    at production corpus sizes the band width grows with log(n)
    (16-32 bits) so bucket sizes stay O(1)-ish — 4-bit demo bands are
    sized to the 500-2000-vector fixtures."""
    emb = F.col("embedding")
    keys = F.array(
        *[
            sum(
                (F.element_at(emb, b * bw + i + 1) > 0).cast("int") * (1 << i)
                for i in range(bw)
            )
            for b in range(bands)
        ]
    )
    # Round-16 (guide §2.4): the 16-band sign-bit key projection is
    # interpreted HOF math (64 element_at/cast/mult terms per row) and
    # fed THREE consumers (sized + both candidate-join sides via
    # pruned) with no subtree reuse — checkpoint the banded keys once,
    # and the bucket-capped pruned frame once (it feeds both join
    # sides).
    banded = e.select(
        F.col("vec_id"), F.posexplode(keys).alias("band_id", "band_key")
    ).localCheckpoint()
    sized = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
        .select("band_id", "band_key")
    )
    pruned = banded.join(sized, ["band_id", "band_key"]).localCheckpoint()
    a, b_ = pruned.alias("ka"), pruned.alias("kb")
    cands = (
        a.join(
            b_,
            (F.col("ka.band_id") == F.col("kb.band_id"))
            & (F.col("ka.band_key") == F.col("kb.band_key"))
            & (F.col("ka.vec_id") < F.col("kb.vec_id")),
        )
        .select(
            F.col("ka.vec_id").alias("keep_id"),
            F.col("kb.vec_id").alias("rm_id"),
        )
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    eb = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    # Round-16 measured negative result (the dedup_near r15 lesson
    # repeating): vectorizing this 64-term fold as an Arrow pandas_udf
    # was stage-timed SLOWER (3.25 s vs 1.87 s at sf0.1, 1.29M pairs) —
    # the two 64-float payload columns cost ~1.3 GB of JVM→Arrow
    # transfer, more than the interpreted lambda steps it saved. A
    # wide-payload fold stays JVM-side; kernels win only when they
    # REMOVE the pair-payload materialization outright (the
    # _corpus_topk_arrow shape), which this frame-parameterized
    # operator cannot (its corpus is an arbitrary input frame, not a
    # re-readable file).
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        cands.join(ea, F.col("keep_id") == F.col("a_id"))
        .join(eb, F.col("rm_id") == F.col("b_id"))
        .select("keep_id", "rm_id", dot.alias("dot"))
        .filter(F.col("dot") >= F.lit(tau))
    )
    return scored.groupBy(F.col("rm_id").alias("vec_id")).agg(
        F.min("keep_id").cast("bigint").alias("keeper_id"),
        F.min_by(F.floor(F.col("dot") * 10000).cast("bigint"), F.col("keep_id")).alias(
            "cosine_e4"
        ),
    )


@query(
    "dedup_semantic",
    f"""
    WITH k AS (
        SELECT vec_id, b.band_id,
               {" + ".join(
                   f"(CASE WHEN embedding[b.band_id*{_SEM_BW}+{i + 1}] > 0 "
                   f"THEN {1 << i} ELSE 0 END)"
                   for i in range(_SEM_BW)
               )} AS band_key
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(0, {_SEM_BANDS})) AS band_id) b
    ), sized AS (
        SELECT band_id, band_key FROM k GROUP BY band_id, band_key
        HAVING COUNT(*) BETWEEN 2 AND {_SEM_MAX_BUCKET}
    ), pruned AS (
        SELECT k.* FROM k JOIN sized USING (band_id, band_key)
    ), cand AS (
        SELECT DISTINCT a.vec_id AS keep_id, b.vec_id AS rm_id
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id
    ), scored AS (
        SELECT c.keep_id, c.rm_id,
               list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
                   p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) AS dot
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.keep_id
        JOIN embeddings eb ON eb.vec_id = c.rm_id
    )
    SELECT rm_id AS vec_id,
           CAST(MIN(keep_id) AS BIGINT) AS keeper_id,
           CAST(arg_min(CAST(FLOOR(dot * 10000) AS BIGINT), keep_id)
                AS BIGINT) AS cosine_e4
    FROM scored WHERE dot >= {_SEM_TAU}
    GROUP BY rm_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate removal (SemDeDup-style): banded
    sign-bit LSH candidates → exact cosine ≥ τ → keep the lowest
    vec_id per cluster. The one ANN-family operator with an EXACT
    oracle — see semantic_dedup_frame for why the bucketing is
    axis-aligned."""
    return semantic_dedup_frame(load(spark, sf_dir, "embeddings"))


# Clusters wrap the ENTIRE dedup_near oracle as a CTE, then close it
# transitively with the same recursive-reachability trick as
# graph_components — the whole candidate→verify→cluster pipeline is
# hash-checked end-to-end.
_DEDUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_DEDUP_NEAR_ORACLE}),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ), nodes AS (SELECT DISTINCT src AS doc_id FROM sym),
    labels AS (
        SELECT n.doc_id,
               least(n.doc_id, coalesce(min(r.dst), n.doc_id)) AS cluster_rep
        FROM nodes n LEFT JOIN reach r ON n.doc_id = r.src
        GROUP BY n.doc_id
    )
    SELECT doc_id, CAST(cluster_rep AS BIGINT) AS cluster_rep,
           doc_id = cluster_rep AS is_keeper
    FROM labels
"""


@query("dedup_clusters", _DEDUP_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final step of fuzzy dedup: verified near-dup PAIRS closed
    into CLUSTERS (a-b, b-c ⇒ {a,b,c}), lowest doc_id elected keeper,
    everything else marked for removal — pairwise output alone
    over-deletes (removing both ends of every pair) or under-deletes
    (keeping transitive dups that never paired directly).

    Reuses dedup_near's verified pairs and graph_components'
    min-label propagation (convergence early-exit; rounds ≤ cluster
    diameter, which for near-dup clusters is tiny). Docs with no dup
    pair are implicit keepers and stay out of the output — the result
    is sized in DUPLICATES, not corpus size. Exact oracle: the
    dedup_near SQL pipeline nested as a CTE + recursive reachability
    closure."""
    from graphsense_datafeed_spark.ingest.facade import label_propagate

    pairs = dedup_near(spark, sf_dir).select("doc_a", "doc_b")
    sym = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("addr"))
        .distinct()
        .select("addr", F.col("addr").alias("label"))
        .localCheckpoint()
    )
    # require_converged: the oracle is the FULL recursive closure, so
    # an unconverged label set must raise, not silently hash-mismatch.
    labels = label_propagate(sym, labels, max_iter=50, require_converged=True).state
    return labels.select(
        F.col("addr").alias("doc_id"),
        F.col("label").cast("bigint").alias("cluster_rep"),
        (F.col("addr") == F.col("label")).alias("is_keeper"),
    )


# The survivors oracle nests the entire cluster pipeline (which itself
# nests the entire dedup_near pipeline) and anti-joins the losers away
# — the full candidate→verify→cluster→apply chain is hash-checked as
# one statement.
_DEDUP_APPLY_ORACLE = f"""
    SELECT d.doc_id, d.lang, d.source, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (
        SELECT doc_id FROM ({_DEDUP_CLUSTERS_ORACLE}) WHERE NOT is_keeper
    )
"""


@query("dedup_apply", _DEDUP_APPLY_ORACLE)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus a 100 TB pipeline actually MATERIALIZES after fuzzy
    dedup: every document except the elected-out near-duplicates
    (cluster members that lost keeper election). dedup_clusters ends
    at the per-duplicate verdict table; this is the missing last step
    — a broadcast anti-join of that (duplicates-sized, tiny relative
    to the corpus) removal set against the full corpus — id-only rows,
    with AQE choosing broadcast vs shuffle by measured size (the
    removal set scales with dup mass, so it is not hint-pinned), and
    the surviving corpus streams through without a corpus-sized
    payload shuffle.

    Output projects doc metadata (+ length), not the text payload —
    the 100 TB materialization rewrites files; the verification
    contract only needs the surviving identity set. Exact oracle: the
    full near-dup SQL pipeline nested under NOT IN."""
    removed = (
        dedup_clusters(spark, sf_dir).filter(~F.col("is_keeper")).select("doc_id")
    )
    docs = load(spark, sf_dir, "documents")
    return docs.join(removed, "doc_id", "left_anti").select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
    )


@query(
    "dedup_rank_quality",
    """
    WITH keyed AS (
        SELECT doc_id, n_chars,
               md5(regexp_replace(lower(text), '[^a-z ]', '', 'g'))
                   AS content_key
        FROM documents
    )
    SELECT doc_id, content_key,
           ROW_NUMBER() OVER (PARTITION BY content_key
                              ORDER BY n_chars DESC, doc_id) = 1
               AS is_keeper
    FROM keyed
    """,
)
def dedup_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked exact dedup: documents are keyed by a NORMALIZED
    content digest (lowercase, letters+spaces only — case and
    punctuation variants of the same text collide) and within each key
    the BEST copy wins: longest original text, doc_id as the total
    tie-break. This is the keep-policy layer dedup_keys lacks (it
    keeps an arbitrary first) and dedup_clusters delegates to min-id —
    real corpus dedup keeps the highest-quality duplicate, not the
    first-seen one.

    One groupBy-key window with a rank-1 predicate: Spark's
    WindowGroupLimit turns it into per-partition top-1 heaps — no
    full sort of the corpus, one exchange on the digest (the digest,
    not the text, shuffles — same bytes-on-wire discipline as
    dedup_exact). Spark's regexp_replace is global by default; DuckDB
    needs the explicit 'g' flag — a known parity trap, pinned here."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "").cast("binary")
        ).alias("content_key"),
    )
    w = Window.partitionBy("content_key").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return keyed.select(
        "doc_id",
        "content_key",
        (F.row_number().over(w) == 1).alias("is_keeper"),
    )


@query(
    "dedup_containment",
    """
    WITH sh AS (
        SELECT DISTINCT doc_id,
               md5(concat_ws(' ', ws[i], ws[i + 1], ws[i + 2])) AS h
        FROM (
            SELECT doc_id, str_split(text, ' ') AS ws,
                   unnest(range(1, len(str_split(text, ' ')) - 1)) AS i
            FROM documents
        )
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), df AS (
        SELECT h, COUNT(*) AS nd FROM sh GROUP BY h
    ), kept AS (
        SELECT s.doc_id, s.h FROM sh s JOIN df USING (h) WHERE nd <= 16
    ), common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id != b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_common,
           CAST(FLOOR(n_common * 10000.0 / sa.n) AS BIGINT) AS containment_e4
    FROM common JOIN sizes sa ON sa.doc_id = common.doc_a
    WHERE n_common * 2 >= sa.n
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle CONTAINMENT detection (round 5) — Broder's
    containment c(A,B)=|S_A∩S_B|/|S_A|, the asymmetric measure Jaccard
    misses: a short document quoted wholesale inside a long one scores
    near-zero Jaccard but containment ≈ 1. Emits ordered pairs where
    ≥ half of doc_a's shingles also occur in doc_b — the
    quote/subset-dup candidates a training-data pipeline strips
    separately from symmetric near-dups (partial overlap leaks eval
    data just as well as full duplication).

    Same scale skeleton as the other dedup rows: distinct (doc,
    shingle-digest) shuffles digests (never text), pair generation is
    shingle-bucketed under the count-certified hot cap (boilerplate
    shingles in >16 docs carry no containment signal — both engines
    drop them identically, so the capped measure stays exact-parity),
    per-doc sizes join back broadcast-sized, and the ≥½ gate stays in
    the integer domain (n_common*2 >= n — no float threshold)."""
    d = (
        load(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    ws = F.col("ws")
    from graphsense_datafeed_spark.operators.llm_text import safe_offsets

    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.transform(
                    # guarded: <3-word docs contribute no shingles (the
                    # unguarded sequence descends to [1,0] and element_at
                    # aborts under ANSI — round-5 code-review find)
                    safe_offsets(F.size(ws) - 2),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ",
                            F.element_at(ws, i),
                            F.element_at(ws, i + 1),
                            F.element_at(ws, i + 2),
                        ).cast("binary")
                    ),
                )
            ).alias("h"),
        )
        .distinct()
        # Round-16 (guide §2.4): the tokenize+shingle+md5 explode fed
        # FOUR consumers (sizes, df, both kept sides) with no subtree
        # reuse — the before-plan re-scanned documents 10x and ran the
        # Generate 10x, which is also why the query was so
        # load-sensitive in-suite. Materialize the deduped digest
        # frame once.
        .localCheckpoint()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    df_ = sh.groupBy("h").agg(F.count("*").alias("nd"))
    # kept feeds both pair-join sides — same discipline.
    kept = (
        sh.join(df_.filter(F.col("nd") <= 16), "h")
        .select("doc_id", "h")
        .localCheckpoint()
    )
    a = kept.alias("a")
    b = kept.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), "n")
    return (
        common.join(F.broadcast(sa), "doc_a")
        .filter(F.col("n_common") * 2 >= F.col("n"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.floor(F.col("n_common") * 10000.0 / F.col("n"))
            .cast("bigint")
            .alias("containment_e4"),
        )
    )


@query(
    "corpus_dup_health",
    """
    WITH per_digest AS (
        SELECT source, md5(text) AS dg,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MIN(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY source, md5(text)
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_dup_copies,
           CAST(FLOOR((SUM(cnt) - COUNT(*)) * 10000.0 / SUM(cnt))
                AS BIGINT) AS dup_rate_e4,
           CAST(SUM((cnt - 1) * chars) AS BIGINT) AS wasted_chars
    FROM per_digest
    GROUP BY source
    """,
)
def corpus_dup_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication HEALTH rollup (round 6): the dashboard
    number a dedup stage reports — how duplicated is each ingest
    source, and how many bytes a dedup pass would reclaim.  dedup_exact
    finds the duplicates; this operator turns them into the
    per-source accounting (docs, uniques, duplicate copies, rate,
    wasted chars) that decides WHICH sources are worth re-crawling or
    gating — the triage view, computed without materializing any
    duplicate pair.

    Two stacked exact aggregations: (source, digest) partial counts —
    only 16-byte digests shuffle, the dedup_exact discipline — then a
    per-source rollup where every measure is bigint (identical texts
    have identical n_chars, so MIN(n_chars) is THE doc length);
    dup_rate enters double exactly once, floored e4.

    Scale: both aggs are map-side partial; the first shuffles
    (source, digest) pairs (corpus-sized but digest-narrow), the
    second shuffles |sources| rows.  Incremental: per-digest counts
    are mergeable, so the health board updates per ingest batch."""
    d = load(spark, sf_dir, "documents")
    per_digest = d.groupBy(
        "source", F.md5(F.col("text").cast("binary")).alias("dg")
    ).agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.min("n_chars").cast("bigint").alias("chars"),
    )
    n_docs = F.sum("cnt").cast("bigint")
    n_unique = F.count("*").cast("bigint")
    return per_digest.groupBy("source").agg(
        n_docs.alias("n_docs"),
        n_unique.alias("n_unique"),
        (n_docs - n_unique).cast("bigint").alias("n_dup_copies"),
        F.floor((n_docs - n_unique) * 10000.0 / n_docs)
        .cast("bigint")
        .alias("dup_rate_e4"),
        F.sum((F.col("cnt") - 1) * F.col("chars"))
        .cast("bigint")
        .alias("wasted_chars"),
    )


@query(
    "dedup_incremental_snapshot",
    """
    WITH existing AS (
        SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id < 250
    ), batch AS (
        SELECT doc_id, md5(text) AS dg FROM documents WHERE doc_id >= 250
    ), first_in_batch AS (
        SELECT doc_id, dg,
               ROW_NUMBER() OVER (PARTITION BY dg ORDER BY doc_id) AS rn
        FROM batch
    )
    SELECT b.doc_id,
           CASE WHEN e.dg IS NOT NULL THEN 'dup_of_existing'
                WHEN b.rn > 1 THEN 'dup_within_batch'
                ELSE 'new' END AS status
    FROM first_in_batch b LEFT JOIN existing e ON b.dg = e.dg
    """,
)
def dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup against an existing corpus snapshot (round
    6) — the production nightly that dedup_exact's one-shot form
    doesn't express: new documents (doc_id ≥ 250, the arriving batch)
    are checked against the ALREADY-INGESTED corpus digest index
    (doc_id < 250) AND against each other, each classified
    dup_of_existing / dup_within_batch / new.  Only 'new' rows
    proceed to ingest; the index then absorbs their digests —
    the loop that keeps a growing corpus exact-deduped without ever
    re-scanning history.

    Within-batch ties elect the lowest doc_id (deterministic), and
    existing-corpus hits take precedence over within-batch rank
    (a batch doc equal to an existing one is dup_of_existing even if
    it's also first in its batch group) — both pinned by the oracle.

    Scale: the digest index is digest-only (16 bytes/doc) and joins
    by digest hash — at 100 TB it lives partitioned by digest prefix
    and the batch (≪ corpus) shuffles to IT; history is never
    re-read, only probed.  The same shape backs text_decontaminate
    (benchmark digests) and dedup_apply (removal sets)."""
    d = load(spark, sf_dir, "documents")
    dg = F.md5(F.col("text").cast("binary"))
    existing = (
        d.filter(F.col("doc_id") < 250).select(dg.alias("dg")).distinct()
    )
    batch = d.filter(F.col("doc_id") >= 250).select("doc_id", dg.alias("dg"))
    w = Window.partitionBy("dg").orderBy("doc_id")
    first_in_batch = batch.withColumn("rn", F.row_number().over(w))
    e = existing.select(F.col("dg").alias("e_dg"))
    joined = first_in_batch.join(
        e, first_in_batch.dg == F.col("e_dg"), "left"
    )
    status = (
        F.when(F.col("e_dg").isNotNull(), "dup_of_existing")
        .when(F.col("rn") > 1, "dup_within_batch")
        .otherwise("new")
    )
    return joined.select("doc_id", status.alias("status"))


@query(
    "dedup_lsh_scurve",
    """
    SELECT CAST(i AS BIGINT) AS jaccard_e2,
           CAST(FLOOR((1 - pow(1 - pow(i / 100.0, 2), 8)) * 1000000)
                AS BIGINT) AS p_candidate_e6
    FROM (SELECT unnest(range(5, 100, 5)) AS i)
    """,
)
def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-CURVE of the engine's own MinHash banding (round 6):
    with 16 hashes as 8 bands × 2 rows, a pair with Jaccard s collides
    in ≥1 band with P = 1 − (1 − s²)⁸ — THE design table behind
    dedup_near's parameters, emitted as a query so the calibration is
    inspectable next to the operator it justifies (at s=0.8: ~0.999
    recall; at s=0.3: ~0.5 false-candidate rate absorbed by the exact
    re-rank; the threshold where P=0.5 sits near s≈0.55 — the (r,b)
    trade every LSH deployment tunes).

    A pure generated table — no input data; Spark's range() and the
    oracle's generate_series produce the identical grid, and the
    probability is one double chain (pow/pow) floored e6.  Changing
    the banding in llm_dedup.py without updating this table is caught
    by eye; changing BOTH consistently keeps the docs honest.

    Scale: 19 rows.  The point is the artifact, not the plan."""
    grid = spark.range(1, 20).select(
        (F.col("id") * 5).cast("bigint").alias("jaccard_e2")
    )
    s = F.col("jaccard_e2") / 100.0
    p = 1 - F.pow(1 - F.pow(s, 2), 8)
    return grid.select(
        "jaccard_e2",
        F.floor(p * 1000000).cast("bigint").alias("p_candidate_e6"),
    )


@query(
    "dedup_minhash_jaccard_estimate",
    """
    WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 20 = 3
    ), ws AS (
        SELECT doc_id, str_split(text, ' ') AS w FROM docs
    ), sh AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS s
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM ws)
    ), mins AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(md5('0:' || s)) AS m0, MIN(md5('1:' || s)) AS m1,
               MIN(md5('2:' || s)) AS m2, MIN(md5('3:' || s)) AS m3,
               MIN(md5('4:' || s)) AS m4, MIN(md5('5:' || s)) AS m5,
               MIN(md5('6:' || s)) AS m6, MIN(md5('7:' || s)) AS m7
        FROM sh GROUP BY doc_id HAVING COUNT(*) >= 1
    ), common AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT CAST((CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END)
             + (CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END)
             + (CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END)
             + (CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END)
             + (CASE WHEN a.m4 = b.m4 THEN 1 ELSE 0 END)
             + (CASE WHEN a.m5 = b.m5 THEN 1 ELSE 0 END)
             + (CASE WHEN a.m6 = b.m6 THEN 1 ELSE 0 END)
             + (CASE WHEN a.m7 = b.m7 THEN 1 ELSE 0 END) AS BIGINT)
                   AS matches,
               CAST(FLOOR(CAST(COALESCE(c.c, 0) AS DOUBLE) * 1000000
                          / (a.n + b.n - COALESCE(c.c, 0))) AS BIGINT)
                   AS exact_e6
        FROM mins a
        JOIN mins b ON a.doc_id < b.doc_id
        LEFT JOIN common c ON c.da = a.doc_id AND c.db = b.doc_id
    )
    SELECT matches, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(matches * 125000 AS BIGINT) AS est_e6,
           CAST(FLOOR(CAST(SUM(exact_e6) AS DOUBLE) / COUNT(*))
                AS BIGINT) AS mean_exact_e6,
           CAST(FLOOR(CAST(SUM(ABS(matches * 125000 - exact_e6))
                           AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS mean_abs_err_e6
    FROM pairs GROUP BY matches
    """,
)
def dedup_minhash_jaccard_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator CALIBRATION table (round 7) — measures the
    estimator dedup_near trusts, on this corpus, with this hash
    family: for every pair in a deterministic 5% document subset,
    the 8-permutation signature-agreement estimate (matches/8) sits
    next to the EXACT shingle Jaccard, aggregated per agreement
    level into mean exact similarity and mean absolute error.  The
    dedup_lsh_scurve companion: the s-curve says which pairs become
    candidates, this says how honest the underlying estimate is —
    together they justify the (bands, rows, K) choice with
    measurements instead of folklore.

    Exactness: the same engine-portable md5 MinHash family as
    dedup_near (string-min over salted hex digests); est is exact
    integer arithmetic (·125000); exact Jaccard from distinct-shingle
    counts with inclusion–exclusion; error sums are exact bigints
    with two floored means.

    Scale: the all-pairs stage runs ONLY on the documented bounded
    subset (doc_id % 20 — the centroid-sample discipline; 25 docs at
    sf0.01, 250 at sf0.1); production calibration samples the same
    way — the estimator's error is a corpus property, not a
    full-corpus computation."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 20 == 3)
    )
    sh = shingles(docs)
    mins = sh.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("s")))).alias(
                f"m{k}"
            )
            for k in range(8)
        ],
    )
    a = mins.select(
        F.col("doc_id").alias("a_id"),
        F.col("n").alias("na"),
        *[F.col(f"m{k}").alias(f"a{k}") for k in range(8)],
    )
    b = mins.select(
        F.col("doc_id").alias("b_id"),
        F.col("n").alias("nb"),
        *[F.col(f"m{k}").alias(f"b{k}") for k in range(8)],
    )
    sa = sh.select(F.col("doc_id").alias("ca"), "s")
    sb = sh.select(F.col("doc_id").alias("cb"), F.col("s").alias("s2"))
    common = (
        sa.join(sb, (F.col("s") == F.col("s2")) & (F.col("ca") < F.col("cb")))
        .groupBy("ca", "cb")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    pairs = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .join(
            common,
            (F.col("ca") == F.col("a_id")) & (F.col("cb") == F.col("b_id")),
            "left",
        )
    )
    matches = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(8)
    ).cast("bigint")
    c = F.coalesce(F.col("c"), F.lit(0))
    exact = F.floor(
        c.cast("double") * 1000000 / (F.col("na") + F.col("nb") - c)
    ).cast("bigint")
    tagged = pairs.select(
        matches.alias("matches"), exact.alias("exact_e6")
    )
    return tagged.groupBy("matches").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (F.first("matches") * 125000).cast("bigint").alias("est_e6"),
        F.floor(F.sum("exact_e6").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("mean_exact_e6"),
        F.floor(
            F.sum(
                F.abs(F.col("matches") * 125000 - F.col("exact_e6"))
            ).cast("double")
            / F.count("*")
        )
        .cast("bigint")
        .alias("mean_abs_err_e6"),
    )


def _shingle_sensitivity_oracle_sql() -> str:
    per_k = []
    for k in (3, 5, 7):
        per_k.append(f"""
    sh{k} AS (
        SELECT doc_id, source,
               array_to_string(words[s.i : s.i + {k} - 1], ' ') AS sh
        FROM w, LATERAL (SELECT unnest(generate_series(1,
                 len(words) - {k} + 1)) AS i) s
    ), dsh{k} AS (
        SELECT DISTINCT doc_id, source, sh FROM sh{k}
    ), sz{k} AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM dsh{k} GROUP BY doc_id
    ), pr{k} AS (
        SELECT CAST(FLOOR(CAST(c AS DOUBLE) / (sa.n + sb.n - c)
                    * 1000000) AS BIGINT) AS j_e6
        FROM (
            SELECT a.doc_id AS da, b.doc_id AS db,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM dsh{k} a JOIN dsh{k} b
              ON a.sh = b.sh AND a.source = b.source
                 AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) JOIN sz{k} sa ON sa.doc_id = da
          JOIN sz{k} sb ON sb.doc_id = db
    ), out{k} AS (
        SELECT CAST({k} AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(FLOOR(CAST(SUM(j_e6) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS mean_j_e6,
               CAST(COUNT(*) FILTER (j_e6 >= 500000) AS BIGINT)
                   AS n_ge_half
        FROM pr{k}
    )""")
    return (
        """
    WITH w AS (
        SELECT doc_id, source, str_split(text, ' ') AS words
        FROM documents WHERE doc_id < 80
    ),"""
        + ",".join(per_k)
        + """
    SELECT * FROM out3 UNION ALL
    SELECT * FROM out5 UNION ALL
    SELECT * FROM out7 ORDER BY k"""
    )


@query("dedup_shingle_sensitivity", _shingle_sensitivity_oracle_sql())
def dedup_shingle_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHINGLE-SIZE sensitivity sweep (round 9) — the tuning table
    consulted BEFORE freezing dedup_near's k: exact Jaccard over the
    same bounded panel at k = 3/5/7-word shingles, summarized as
    overlapping-pair count, mean similarity and the ≥0.5 tail.
    Small k inflates similarity (common phrases collide), large k
    deflates it (one edit kills k shingles) — the mean-vs-k decay
    and the tail count show exactly where the 0.8 near-dup line
    separates true duplicates from topical overlap on THIS corpus;
    rerun per corpus, because the right k is a property of the text,
    not of the algorithm.

    Exactness: shingle sets are exact (distinct explode), overlap
    counts exact via the token equi-join (the dedup_ngram_jaccard
    lane — pairs only within a shared shingle, never doc×doc);
    per-pair Jaccard floors e6, the mean floors the bigint sum once,
    and the tail threshold compares the already-floored integer.

    Scale: the panel is id-bounded (doc_id < 80) and the join is
    per-bucket token-keyed; the k-sweep is 3 independent passes that
    share one word-array scan."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select("doc_id", "source", F.split("text", " ").alias("words"))
    )
    frames = []
    for k in (3, 5, 7):
        sh = d.select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.size("words") - F.lit(k)
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice("words", i + 1, k)
                    ),
                )
            ).alias("sh"),
        ).distinct()
        sz = sh.groupBy("doc_id").agg(
            F.count("*").cast("bigint").alias("n")
        )
        a, b = sh.alias("a"), sh.alias("b")
        commons = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.source") == F.col("b.source"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("da"),
                F.col("b.doc_id").alias("db"),
            )
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        sa = sz.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
        sb = sz.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
        pairs = commons.join(F.broadcast(sa), "da").join(
            F.broadcast(sb), "db"
        )
        j = F.floor(
            F.col("c").cast("double")
            / (F.col("na") + F.col("nb") - F.col("c"))
            * 1000000
        ).cast("bigint")
        frames.append(
            pairs.select(j.alias("j_e6")).agg(
                F.lit(k).cast("bigint").alias("k"),
                F.count("*").cast("bigint").alias("n_pairs"),
                F.floor(
                    F.sum("j_e6").cast("double") / F.count("*")
                )
                .cast("bigint")
                .alias("mean_j_e6"),
                F.count_if(F.col("j_e6") >= 500000)
                .cast("bigint")
                .alias("n_ge_half"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("k")


@query(
    "embed_lsh_bucket_stats",
    f"""
    WITH k AS (
        SELECT vec_id, b.band_id,
               {" + ".join(
                   f"(CASE WHEN embedding[b.band_id*{_SEM_BW}+{i + 1}] > 0 "
                   f"THEN {1 << i} ELSE 0 END)"
                   for i in range(_SEM_BW)
               )} AS band_key
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(0, {_SEM_BANDS})) AS band_id) b
    ), buckets AS (
        SELECT band_id, band_key, CAST(COUNT(*) AS BIGINT) AS s
        FROM k GROUP BY band_id, band_key
    )
    SELECT CAST(band_id AS BIGINT) AS band_id,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(s) AS BIGINT) AS n_vectors,
           CAST(MAX(s) AS BIGINT) AS max_bucket,
           CAST(SUM(s * (s - 1)) // 2 AS BIGINT) AS candidate_pairs,
           CAST(FLOOR(CAST(SUM(s * (s - 1)) // 2 AS DOUBLE) * 1000000000
                      / (CAST(SUM(s) AS DOUBLE) * (SUM(s) - 1) / 2))
                AS BIGINT) AS cand_rate_e9
    FROM buckets GROUP BY band_id ORDER BY band_id
    """,
)
def embed_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BUCKET load-balance audit (round 9) — the ops metric that
    decides whether a sign-band index is SAFE before anything joins
    on it: per band, the bucket-size distribution's max (the hot
    bucket that would dominate a candidate join), the exact
    candidate-pair count Σ s(s−1)/2, and the candidate RATE vs
    all-pairs — the number dedup_semantic's 256-cap and the ANN
    family's bucket caps exist to bound.  A band whose cand_rate
    approaches 1 is a degenerate projection (anisotropic corpus —
    embed_pair_distance_hist shows why); healthy bands sit near
    2^−bw.  Same band keys as dedup_semantic (sign bits of
    consecutive dims), so this table explains THAT operator's cost.

    Exactness is TOTAL until one division: sign-bit keys are exact
    comparisons on stored floats, bucket sizes / pair counts exact
    bigints (s(s−1)/2 is integer), one floored rate per band.

    Scale: one |corpus|×|bands| key projection (narrow), one keyed
    count, a |bands|-row finish — the audit costs less than one
    candidate join it prevents."""
    e = load(spark, sf_dir, "embeddings")
    bands = spark.range(_SEM_BANDS).select(
        F.col("id").cast("int").alias("band_id")
    )
    key = None
    for i in range(_SEM_BW):
        bit = F.when(
            F.element_at(
                "embedding", F.col("band_id") * _SEM_BW + i + 1
            )
            > 0,
            1 << i,
        ).otherwise(0)
        key = bit if key is None else key + bit
    k = e.crossJoin(F.broadcast(bands)).select(
        "vec_id", "band_id", key.alias("band_key")
    )
    buckets = k.groupBy("band_id", "band_key").agg(
        F.count("*").cast("bigint").alias("s")
    )
    # integer-halve the even Σs(s−1): a double division is exact only
    # below 2^53 and this count is corpus-quadratic in the worst case
    pairs = F.shiftright(
        F.sum(F.col("s") * (F.col("s") - 1)).cast("bigint"), 1
    ).cast("bigint")
    tot = F.sum("s").cast("bigint")
    return (
        buckets.groupBy("band_id")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            tot.alias("n_vectors"),
            F.max("s").cast("bigint").alias("max_bucket"),
            pairs.alias("candidate_pairs"),
            F.floor(
                pairs.cast("double")
                * 1000000000
                / (tot.cast("double") * (tot - 1) / 2)
            )
            .cast("bigint")
            .alias("cand_rate_e9"),
        )
        .select(
            F.col("band_id").cast("bigint").alias("band_id"),
            "n_buckets",
            "n_vectors",
            "max_bucket",
            "candidate_pairs",
            "cand_rate_e9",
        )
        .orderBy("band_id")
    )


_CONTAINMENT_ORACLE = f"""
    WITH ws AS (
        SELECT doc_id, str_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS s
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM ws)
    ), hb AS (
        SELECT doc_id, s,
               CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS hbase
        FROM sh
    ), sig AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(({a} * hbase + {b}) % {_MINHASH_P}) AS h{i}"
                   for i, (a, b) in enumerate(_MINHASH_AB)
               )}
        FROM hb GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, bd.band_id,
               [{", ".join(
                   f"h{2 * b} * {_MINHASH_P} + h{2 * b + 1}"
                   for b in range(_N_BANDS)
               )}][bd.band_id + 1] AS band_key
        FROM sig
        CROSS JOIN (SELECT unnest(range(0, {_N_BANDS})) AS band_id) bd
    ), sized AS (
        SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
        HAVING COUNT(*) BETWEEN 2 AND 256
    ), pruned AS (
        SELECT bands.* FROM bands JOIN sized USING (band_id, band_key)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ), nsh AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS c
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.c * 10000 // na.n AS BIGINT) AS contain_a_in_b_e4,
           CAST(i.c * 10000 // nb.n AS BIGINT) AS contain_b_in_a_e4
    FROM inter i
    JOIN nsh na ON na.doc_id = i.doc_a
    JOIN nsh nb ON nb.doc_id = i.doc_b
    WHERE i.c * 2 >= LEAST(na.n, nb.n)
"""


@query("text_containment_pairs", _CONTAINMENT_ORACLE)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment over the LSH candidate pairs
    (round 13): C(A→B) = |A∩B|/|A| both ways, kept when the SMALLER
    document is ≥50% contained in the other — the quote/excerpt/
    boilerplate-embedding case Jaccard structurally misses (a 50-word
    doc fully inside a 5000-word doc has Jaccard ≈ 0.01 but
    containment 1.0). The standard second screen next to dedup_near
    in a corpus-curation pipeline.

    Exactness: same md5-universal-hash candidates as dedup_near;
    containments are pure integer floor-divisions (c·10⁴ DIV n); the
    keep rule c·2 ≥ min(na,nb) is integer arithmetic — no floats
    anywhere.

    Scale: identical to dedup_near — banded equi-join candidates,
    broadcast-pair verify over the persisted shingle arrays; the
    containment direction adds no extra pass. Caveat shared with all
    LSH screens: recall is Jaccard-driven, so a tiny-in-huge
    embedding is only caught when a band collides — the deliberate
    trade documented here (an exhaustive containment join is
    quadratic; the bounded alternative is a prefix/suffix index)."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    fp = _docs_fingerprint(sf_dir)
    arrs = _cached_persist(
        _ARR_CACHE, spark, sf_dir, fp, lambda: shingle_arrays(docs)
    )
    cands = lsh_candidate_pairs(minhash_signatures_from_arrays(arrs))
    a = arrs.select(
        F.col("doc_id").alias("a_id"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("na"),
    )
    b = arrs.select(
        F.col("doc_id").alias("b_id"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("nb"),
    )
    c = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    return (
        a.join(F.broadcast(cands), F.col("a_id") == F.col("doc_a"))
        .join(b, F.col("b_id") == F.col("doc_b"))
        .filter(c * 2 >= F.least(F.col("na"), F.col("nb")))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(size(array_intersect(arr_a, arr_b)) * 10000"
                " DIV na AS BIGINT)"
            ).alias("contain_a_in_b_e4"),
            F.expr(
                "CAST(size(array_intersect(arr_a, arr_b)) * 10000"
                " DIV nb AS BIGINT)"
            ).alias("contain_b_in_a_e4"),
        )
    )


_MINHASH_ERR_ORACLE = f"""
    WITH ws AS (
        SELECT doc_id, str_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS s
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM ws)
    ), hb AS (
        SELECT doc_id, s,
               CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS hbase
        FROM sh
    ), sig AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(({a} * hbase + {b}) % {_MINHASH_P}) AS h{i}"
                   for i, (a, b) in enumerate(_MINHASH_AB)
               )}
        FROM hb GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, bd.band_id,
               [{", ".join(
                   f"h{2 * b} * {_MINHASH_P} + h{2 * b + 1}"
                   for b in range(_N_BANDS)
               )}][bd.band_id + 1] AS band_key
        FROM sig
        CROSS JOIN (SELECT unnest(range(0, {_N_BANDS})) AS band_id) bd
    ), sized AS (
        SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
        HAVING COUNT(*) BETWEEN 2 AND 256
    ), pruned AS (
        SELECT bands.* FROM bands JOIN sized USING (band_id, band_key)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ), nsh AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), matches AS (
        SELECT c.doc_a, c.doc_b,
               {" + ".join(
                   f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
                   for i in range(_N_HASHES)
               )} AS est_matches
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
    ), inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS c
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT m.doc_a, m.doc_b,
           CAST(m.est_matches AS BIGINT) AS est_matches,
           CAST(m.est_matches * 10000 // {_N_HASHES} AS BIGINT)
               AS est_jaccard_e4,
           CAST(COALESCE(i.c, 0) * 10000
                // (na.n + nb.n - COALESCE(i.c, 0)) AS BIGINT)
               AS true_jaccard_e4,
           CAST(m.est_matches * 10000 // {_N_HASHES}
                - COALESCE(i.c, 0) * 10000
                  // (na.n + nb.n - COALESCE(i.c, 0)) AS BIGINT)
               AS err_e4
    FROM matches m
    LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
    JOIN nsh na ON na.doc_id = m.doc_a
    JOIN nsh nb ON nb.doc_id = m.doc_b
"""


@query("dedup_minhash_estimate_error", _MINHASH_ERR_ORACLE)
def dedup_minhash_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimation-error audit (round 13): for every LSH
    candidate pair, the signature-estimated Jaccard (matching
    components / 16) NEXT TO the exact shingle Jaccard and their
    signed error — the measurement that justifies (or indicts) the
    16-hash signature size before anyone trusts dedup_near's
    candidate ranking at a new corpus. The audit row the sketch
    family's other members (KMV, HLL) already carry.

    Exactness: component matches are integer equality counts on the
    md5-universal-hash mins; both Jaccards and the error are integer
    floor-divisions — no floats anywhere.

    Scale: one extra broadcast join of the (bounded) candidate table
    against the 16-long signature table; the exact-Jaccard side
    reuses the persisted shingle arrays."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    fp = _docs_fingerprint(sf_dir)
    arrs = _cached_persist(
        _ARR_CACHE, spark, sf_dir, fp, lambda: shingle_arrays(docs)
    )
    sig = minhash_signatures_from_arrays(arrs)
    cands = lsh_candidate_pairs(sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sig_a"),
                F.col("sig_b"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
    )
    matches = (
        F.broadcast(cands).join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_matches"))
    )
    a = arrs.select(
        F.col("doc_id").alias("a_id"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("na"),
    )
    b = arrs.select(
        F.col("doc_id").alias("b_id"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("nb"),
    )
    c = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    truth = (
        a.join(F.broadcast(cands), F.col("a_id") == F.col("doc_a"))
        .join(b, F.col("b_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            c.alias("c"),
            "na",
            "nb",
        )
    )
    out = matches.join(truth, ["doc_a", "doc_b"])
    tj = F.expr("CAST(c * 10000 DIV (na + nb - c) AS BIGINT)")
    ej = F.expr(f"CAST(est_matches * 10000 DIV {_N_HASHES} AS BIGINT)")
    return out.select(
        "doc_a",
        "doc_b",
        F.col("est_matches").cast("bigint").alias("est_matches"),
        ej.alias("est_jaccard_e4"),
        tj.alias("true_jaccard_e4"),
        (ej - tj).cast("bigint").alias("err_e4"),
    )
