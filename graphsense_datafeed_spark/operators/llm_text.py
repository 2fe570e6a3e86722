"""SURVEY §2.10 — text analysis for training-data pipelines (MANDATE).

tokenization/counting, TF-IDF, corpus profiling, quality scoring,
language-ID and document fingerprinting over `documents` — all pure
DataFrame ops (split/explode/agg/window/join); no Python in the hot
path.

Scale notes: every operator here is explode→aggregate shaped; the
shuffle key is always (term) or (doc) — both fine at 100 TB because
partial aggregation compacts before the exchange. The one sort-heavy
op (top-k terms) uses per-group WindowGroupLimit, not a global sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from graphsense_datafeed_spark.functions.hashing import md5_int
from graphsense_datafeed_spark.ingest.iterate import materialize
from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.sources.tables import load


def safe_offsets(last):
    """1-based offsets ``[1..last]``, EMPTY when ``last < 1``.

    ``F.sequence(1, last)`` silently DESCENDS for last < 1 —
    sequence(1, 0) is [1, 0] — so every gram/shingle offset range built
    from a length must go through this guard or a short input either
    fabricates phantom grams (substr at 0 returns the whole string) or
    aborts the job (element_at/slice at 0 raise under ANSI). The
    DuckDB oracles' range()/generate_series() are empty for last < 1,
    so this is also the parity-exact form. Round-5 code-review find:
    three shipped operators guarded with greatest(n, 0), which still
    yields the descending [1, 0]."""
    return F.when(last >= 1, F.sequence(F.lit(1), last)).otherwise(
        F.array().cast("array<int>")
    )


def tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, token) — whitespace tokenization, one row per
    occurrence."""
    return docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )


@query(
    "text_tokenize",
    """
    WITH toks AS (
        SELECT doc_id, lang, unnest(str_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT lang, token, COUNT(*) AS n
        FROM toks GROUP BY lang, token
    )
    SELECT lang, token, n, rnk FROM (
        SELECT lang, token, n,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n DESC, token ASC) AS rnk
        FROM counts
    ) WHERE rnk <= 10
    """,
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → count → top-10 terms per language."""
    counts = (
        tokens(load(spark, sf_dir, "documents"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("lang", "token", "n", "rnk")
    )


@query(
    "text_token_count",
    """
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
               AS n_bpeish_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    pre-tokenizer (alpha runs / digit runs) — the standard cheap
    token-budget estimators for corpus sizing."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0))
        .cast("bigint")
        .alias("n_bpeish_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


@query(
    "text_tfidf",
    """
    WITH toks AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT doc_id, term,
           CAST(FLOOR(tf * ln(CAST(n_docs AS DOUBLE) / df) * 10000) AS BIGINT)
               AS tfidf_e4
    FROM tf CROSS JOIN n JOIN df USING (term)
    WHERE doc_id < 100
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scores, pure DF: two aggregations + a broadcast-able df
    join + scalar math. The corpus-size scalar rides along via
    crossJoin(1-row) — never a driver-side collect."""
    toks = tokens(load(spark, sf_dir, "documents")).select("doc_id", F.col("token").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = load(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * 10000
            )
            .cast("bigint")
            .alias("tfidf_e4"),
        )
    )


@query(
    "text_lang_stats",
    """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(FLOOR(CAST(MIN(n_chars) AS DOUBLE) / 50) AS BIGINT) AS min_bucket,
           CAST(FLOOR(CAST(MAX(n_chars) AS DOUBLE) / 50) AS BIGINT) AS max_bucket
    FROM documents GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus profile with width_bucket-style
    length histogram bounds."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.floor(F.min("n_chars").cast("double") / 50).cast("bigint").alias("min_bucket"),
        F.floor(F.max("n_chars").cast("double") / 50).cast("bigint").alias("max_bucket"),
    )


# Tiny function-word list for the quality score; literal so the plan is
# self-contained.
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


@query(
    "text_quality",
    f"""
    WITH scored AS (
        SELECT doc_id,
               str_split(text, ' ') AS ws,
               CAST(length(text) AS BIGINT) AS n_chars_actual
        FROM documents
    )
    SELECT doc_id, n_chars_actual,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(FLOOR(CAST(n_chars_actual AS DOUBLE) / len(ws) * 100) AS BIGINT)
               AS avg_word_len_e2,
           CAST(FLOOR(CAST(len(list_filter(ws,
                    w -> list_contains({list(_STOPWORDS)}, w))) AS DOUBLE)
                    / len(ws) * 10000) AS BIGINT) AS stopword_ratio_e4,
           (n_chars_actual BETWEEN 100 AND 500 AND len(ws) >= 10)
               AS passes_length_gate
    FROM scored
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length, mean word length, stopword
    ratio, and a pass/fail length gate — the standard cheap pre-filter
    before expensive model-based quality scoring."""
    d = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_words = F.size(ws)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
    n_chars_actual = F.length("text").cast("bigint")
    return d.select(
        "doc_id",
        n_chars_actual.alias("n_chars_actual"),
        n_words.cast("bigint").alias("n_words"),
        F.floor(n_chars_actual.cast("double") / n_words * 100)
        .cast("bigint")
        .alias("avg_word_len_e2"),
        F.floor(n_stop.cast("double") / n_words * 10000)
        .cast("bigint")
        .alias("stopword_ratio_e4"),
        (n_chars_actual.between(100, 500) & (n_words >= 10)).alias(
            "passes_length_gate"
        ),
    )


@query(
    "text_langid",
    """
    WITH toks AS (
        SELECT doc_id, lang, unnest(list_distinct(str_split(text, ' '))) AS w
        FROM documents
    ), lang_counts AS (
        SELECT lang, w, COUNT(*) AS n FROM toks GROUP BY lang, w
    ), profile AS (
        SELECT lang, w FROM (
            SELECT lang, w,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n DESC, w ASC) AS r
            FROM lang_counts
        ) WHERE r <= 20
    ), votes AS (
        SELECT t.doc_id, p.lang AS cand, COUNT(*) AS hits
        FROM toks t JOIN profile p ON t.w = p.w
        GROUP BY t.doc_id, p.lang
    )
    SELECT v.doc_id, d.lang AS true_lang, v.cand AS predicted,
           v.hits FROM (
        SELECT doc_id, cand, hits,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, cand ASC) AS r
        FROM votes
    ) v JOIN documents d USING (doc_id)
    WHERE v.r = 1
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by profile voting: build per-language top-20 token
    profiles FROM the corpus, classify each doc by profile-hit count
    (ties → lexicographic). Self-contained n-gram-heuristic shape:
    profile build = one agg + WindowGroupLimit; scoring = token⋈profile
    broadcast join. At scale the profile is tiny and static — exactly
    the broadcast-dim shape."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    lang_counts = toks.groupBy("lang", "w").agg(F.count("*").alias("n"))
    wp = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("w").asc())
    profile = (
        lang_counts.withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= 20)
        .select(F.col("lang").alias("cand"), "w")
    )
    votes = (
        toks.select("doc_id", "w")
        .join(F.broadcast(profile), "w")
        .groupBy("doc_id", "cand")
        .agg(F.count("*").alias("hits"))
    )
    wv = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("cand").asc())
    best = votes.withColumn("r", F.row_number().over(wv)).filter(F.col("r") == 1)
    return best.join(docs.select("doc_id", F.col("lang").alias("true_lang")), "doc_id").select(
        "doc_id", "true_lang", F.col("cand").alias("predicted"), "hits"
    )


@query(
    "corpus_pipeline",
    f"""
    WITH gated AS (
        SELECT doc_id, text, lang,
               str_split(text, ' ') AS ws
        FROM documents
        WHERE length(text) BETWEEN 100 AND 500
          AND len(str_split(text, ' ')) >= 10
    ), survivors AS (
        SELECT lang, MIN(doc_id) AS keep_id, ANY_VALUE(len(ws)) AS n_words
        FROM gated GROUP BY sha256(text), lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens,
           CAST(MIN(keep_id) AS BIGINT) AS first_doc
    FROM survivors GROUP BY lang
    """,
)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation in ONE DataFrame program:
    quality gate → exact dedup (min-id survivor per content hash) →
    per-language token budget. The composition the individual §2.10
    operators exist for; at 100 TB this whole plan is two shuffles
    (dedup hash, language agg)."""
    d = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    gated = d.filter(
        F.length("text").between(100, 500) & (F.size(ws) >= 10)
    ).select("doc_id", "text", "lang", F.size(ws).alias("n_words"))
    survivors = (
        gated.groupBy(F.sha2("text", 256).alias("h"), "lang")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.any_value("n_words").alias("n_words"),
        )
    )
    return survivors.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_tokens"),
        F.min("keep_id").cast("bigint").alias("first_doc"),
    )


@query(
    "text_fingerprint",
    """
    WITH shingles AS (
        SELECT doc_id,
               md5(concat_ws(' ', w1, w2, w3)) AS h
        FROM (
            SELECT doc_id,
                   ws[i]     AS w1,
                   ws[i + 1] AS w2,
                   ws[i + 2] AS w3
            FROM (
                SELECT doc_id, str_split(text, ' ') AS ws,
                       unnest(range(1, len(str_split(text, ' ')) - 1)) AS i
                FROM documents
            )
        )
    )
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(list(h)))[1:5], '|')
               AS fingerprint
    FROM shingles GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: rolling 3-word shingles → digest →
    keep the 5 lexicographically-smallest distinct digests (a k-min
    sketch — the winnowing idea with a global window). Fixed-size
    fingerprints make containment/overlap checks a bounded-cost join
    at any corpus size. Digests (md5 hex) are engine-portable, unlike
    murmur/xxhash."""
    # Materialized ws column (split-inside-lambda re-splits per
    # element: no CSE in higher-order lambdas) + repartition (the
    # single-file fixture is one input split → one task otherwise).
    d = (
        load(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    ws = F.col("ws")
    shingled = d.select(
        "doc_id",
        F.explode(
            F.transform(
                # valid 3-shingle start offsets (1-based, guarded)
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
    return (
        shingled.groupBy("doc_id")
        .agg(
            # '|'-joined: the driver's pandas row sort crashes on
            # ndarray cells (r2 lesson), so the sketch is emitted
            # scalar-encoded.
            F.array_join(
                F.slice(F.array_sort(F.collect_set("h")), 1, 5), "|"
            ).alias("fingerprint")
        )
    )


@query(
    "text_chunk",
    """
    WITH t AS (
      SELECT doc_id, str_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           (start // 32) AS chunk_id,
           array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text,
           CAST(len(list_slice(toks, start + 1, start + 32)) AS INT) AS n_tokens
    FROM t, UNNEST(generate_series(0, len(toks) - 1, 32)) AS u(start)
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into fixed-size (32-token) context chunks — the
    pre-training chunking step. One `sequence` of chunk starts per doc
    exploded against a `slice` of the materialized token array: the
    whole op is narrow (no shuffle at all — chunk rows stay on the
    doc's partition), so at 100 TB it streams through the scan stage.
    The token array is materialized once per row (split outside the
    per-chunk expression) — the round-1 no-CSE-inside-HOF lesson."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    return (
        toks.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(32))
            ).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / 32).cast("bigint").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("toks"), F.col("start") + 1, F.lit(32)), " "
            ).alias("chunk_text"),
            F.size(F.slice(F.col("toks"), F.col("start") + 1, F.lit(32))).alias(
                "n_tokens"
            ),
        )
    )


@query(
    "text_pack_sequences",
    """
    WITH sized AS (
      SELECT source, doc_id,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, doc_id, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens) // 512 AS BIGINT) AS bin_id
      FROM sized
    )
    SELECT source, bin_id,
           COUNT(*) AS docs_packed,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed
    FROM packed
    GROUP BY source, bin_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign docs (in stable doc_id order,
    per source shard) to 512-token training bins by running token
    offset — the contiguous-packing approximation every large corpus
    pipeline uses, expressed as one integer running-sum window.

    Scale: the window partitions by the shard key (`source`), so state
    per partition is one counter and shards pack independently — the
    global-order variant would serialize the corpus through one
    partition and is exactly what NOT to do at 100 TB. Integer token
    counts make the running sum order-exact, so the oracle matches
    bit-for-bit."""
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(512)),
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").alias("docs_packed"),
        F.sum("n_tokens").alias("tokens_packed"),
    )


@query(
    "text_mixture_sample",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE lang WHEN 'en' THEN '80' WHEN 'fr' THEN '40' ELSE '1a' END
    """,
)
def text_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling for corpus curation: keep ~50% of en,
    ~25% of fr, ~10% of everything else, decided by an md5-hex-prefix
    threshold per row. Like `sample_deterministic` this is a pure
    per-row function — reproducible across engines, retries and
    repartitionings, and composable (the same digest prefix always
    selects the same docs at a higher rate, so raising a source's
    weight only ADDS documents — monotone mixture updates, the
    property curriculum re-mixes need)."""
    docs = load(spark, sf_dir, "documents")
    prefix = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    threshold = (
        F.when(F.col("lang") == "en", "80")
        .when(F.col("lang") == "fr", "40")
        .otherwise("1a")
    )
    return docs.filter(prefix < threshold).select("doc_id", "lang", "source")


@query(
    "text_repetition_filter",
    """
    WITH g AS (
        SELECT doc_id, ws,
               list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                              i -> array_to_string(ws[i:i+1], ' ')) AS g2
        FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
    )
    SELECT doc_id,
           CAST(FLOOR(CAST(list_max(list_transform(list_distinct(ws),
                    w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE)
                / len(ws) * 10000) AS BIGINT) AS top_word_ratio_e4,
           CAST(FLOOR((1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                           / len(g2)) * 10000) AS BIGINT) AS dup_2gram_ratio_e4
    FROM g
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality rules (the Gopher-rules family the
    length gates in ``text_quality`` don't cover): fraction of tokens
    taken by the single most frequent word, and the duplicate-2-gram
    fraction. Highly repetitive documents (boilerplate, keyword spam,
    decoding loops) light up both.

    Scale: entirely NARROW — both ratios are higher-order-function
    array math inside the document row, so a 100 TB corpus scan never
    shuffles; the split array is materialized once per row first
    (no CSE inside HOF lambdas — round-1 lesson)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    ws = F.col("ws")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(ws),
            lambda w: F.size(F.filter(ws, lambda x: x == w)),
        )
    )
    g2 = F.transform(
        safe_offsets(F.size(ws) - 1),
        lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1)),
    )
    return d.select(
        "doc_id",
        F.floor(top_cnt.cast("double") / F.size(ws) * 10000)
        .cast("bigint")
        .alias("top_word_ratio_e4"),
        # no bigrams (doc of <2 words) → NULL, matching the oracle's
        # NULL-propagating double 0/0; unguarded this is an ANSI
        # DIVIDE_BY_ZERO abort (round-5 code-review regression test)
        F.when(
            F.size(g2) >= 1,
            F.floor(
                (
                    1.0
                    - F.size(F.array_distinct(g2)).cast("double") / F.size(g2)
                )
                * 10000
            ).cast("bigint"),
        ).alias("dup_2gram_ratio_e4"),
    )


@query(
    "text_decontaminate",
    """
    WITH grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(ws) - 4, 0) + 1),
                   i -> array_to_string(ws[i:i+4], ' ')))) AS s
        FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
    ), bench AS (
        SELECT DISTINCT s FROM grams WHERE doc_id < 20
    ), hits AS (
        SELECT c.doc_id, COUNT(DISTINCT c.s) AS n_shared
        FROM grams c JOIN bench b USING (s)
        WHERE c.doc_id >= 20
        GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_5grams,
           COALESCE(h.n_shared, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
    LEFT JOIN hits h USING (doc_id)
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-word n-gram with the held-out eval set (docs 0..19 stand in for
    the benchmark). The standard leakage guard before training.

    Scale: n-gram generation is narrow (HOF over the split array); the
    only shuffle is the equi-join on the shingle string, and the
    benchmark side (eval suites are ~1e5 docs, corpus is ~1e10) is
    broadcast — the corpus is never shuffled, only scanned."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    ws = F.col("ws")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    safe_offsets(F.size(ws) - 4),
                    lambda i: F.array_join(F.slice(ws, i, 5), " "),
                )
            )
        ).alias("s"),
    )
    bench = grams.filter(F.col("doc_id") < 20).select("s").distinct()
    corpus = grams.filter(F.col("doc_id") >= 20)
    hits = (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shared"))
    )
    ids = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= 20)
        .select("doc_id")
    )
    return ids.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared"), F.lit(0))
        .cast("bigint")
        .alias("n_shared_5grams"),
        (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
    )


# PII patterns shared verbatim by the Spark query and the DuckDB oracle
# (simple enough to mean the same thing in Java regex and RE2).
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+[0-9]{3}-[0-9]{4}"


@query(
    "text_pii_scrub",
    f"""
    WITH seeded AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 10 = 0
                       THEN ' contact user' || doc_id || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' call +555-1234' ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}'))
                AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(text,
               '{_EMAIL_RE}', '[EMAIL]', 'g'),
               '{_PHONE_RE}', '[PHONE]', 'g') AS scrubbed
    FROM seeded
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: find-and-mask emails and phone numbers before a
    corpus ships to training. The fixture corpus is synthetic word
    salad, so deterministic PII is seeded into a slice of documents
    first (same expression on both engines), then masked; the oracle
    check covers both the counts and the scrubbed text byte-for-byte.

    Scale: pure per-row regexp (narrow, JVM-side, codegen'd); the
    production version swaps the regex list for a compiled RE2 set via
    the same projection — no shuffle either way."""
    d = load(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" call +555-1234")).otherwise(
            F.lit("")
        ),
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(seeded, F.lit(_EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(seeded, F.lit(_PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(seeded, _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ).alias("scrubbed"),
    )


@query(
    "text_unigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
    ), counts AS (
        SELECT token, COUNT(*) AS c FROM toks GROUP BY token
    ), total AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS n FROM counts
    ), probs AS (
        SELECT token,
               CAST(FLOOR(-ln(CAST(c AS DOUBLE) / (SELECT n FROM total))
                          * 1000000) AS BIGINT) AS nll_e6
        FROM counts
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(p.nll_e6) AS BIGINT) AS nll_sum_e6,
           CAST(FLOOR(CAST(SUM(p.nll_e6) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS avg_nll_e6
    FROM toks t JOIN probs p USING (token)
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring with a self-trained unigram LM: the
    corpus's own token frequencies become p(token), and each document
    is scored by total and average negative log-likelihood — the
    cheap first rung of the perplexity-filter ladder (docs full of
    corpus-rare tokens score high and get culled).

    Determinism across engines: each token's -ln p is floored to e6
    integer ONCE (per vocab entry, so an ulp difference only matters
    at a floor boundary of one of |vocab| values), and the per-doc
    aggregation then runs entirely in exact bigint arithmetic — no
    float sum whose result depends on partial-agg order.

    Scale: token counts partial-aggregate on token; the vocab-sized
    probability table is broadcast; the per-doc agg shuffles on doc_id.
    The corpus is scanned twice (train + score) — at 100 TB you
    persist the vocab table, which is exactly what the broadcast
    stage materializes."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    n_total = float(toks.count())  # scalar; the LM normalizer
    probs = counts.select(
        "token",
        F.floor(-F.log(F.col("c").cast("double") / F.lit(n_total)) * 1000000)
        .cast("bigint")
        .alias("nll_e6"),
    )
    return (
        toks.join(F.broadcast(probs), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("nll_e6").cast("bigint").alias("nll_sum_e6"),
            F.floor(
                F.sum("nll_e6").cast("double") / F.count("*")
            )
            .cast("bigint")
            .alias("avg_nll_e6"),
        )
    )


@query(
    "split_train_holdout",
    """
    SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
               % 1000 AS bucket,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                     AS BIGINT) % 1000 < 50
                THEN 'holdout' ELSE 'train' END AS split
    FROM documents
    """,
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/holdout split (5% holdout) — the
    assignment step every training corpus needs, with the properties a
    100 TB pipeline actually requires and a random() or row_number()
    split lacks:

    - STABLE: a document's split depends only on its own id, so
      re-runs, corpus growth, and shard-order changes never move a doc
      across the boundary (no eval contamination when the corpus is
      extended);
    - DISTRIBUTED: pure per-row projection, no shuffle, no global
      ordering;
    - ENGINE-PORTABLE: the bucket is the first 28 bits of
      md5(doc_id-as-text) mod 1000 (the dedup_near hash discipline),
      so the oracle reproduces the assignment bit-for-bit.

    Buckets are granular (per-mille) so holdout fractions can be
    retuned without rehashing; the split boundary at 50/1000 = 5%.
    tests/test_llm.py pins stability-under-subset and the holdout
    fraction's concentration."""
    bucket = md5_int(F.col("doc_id").cast("string"), digits=7) % 1000
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 50, "holdout").otherwise("train").alias("split"),
    )


@query(
    "text_bigram_lm",
    """
    WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM documents
    ), bg AS (
        SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
    ), c2 AS (
        SELECT w1, bigram, COUNT(*) AS c FROM bg GROUP BY w1, bigram
    ), c1 AS (
        SELECT w1, SUM(c) AS cw FROM c2 GROUP BY w1
    ), probs AS (
        SELECT bigram,
               CAST(FLOOR(-ln(CAST(c AS DOUBLE) / cw) * 1000000) AS BIGINT)
                   AS nll_e6
        FROM c2 JOIN c1 USING (w1)
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(p.nll_e6) AS BIGINT) AS nll_sum_e6,
           CAST(FLOOR(CAST(SUM(p.nll_e6) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS avg_nll_e6
    FROM bg b JOIN probs p USING (bigram)
    GROUP BY b.doc_id
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring — the second rung of the perplexity
    ladder above text_unigram_logprob: documents are scored by the
    conditional NLL -Σ ln p(wᵢ | wᵢ₋₁), where the corpus's own bigram/
    prefix counts define the LM. Word-salad text (plausible unigrams,
    impossible transitions) scores high here while passing a unigram
    filter — exactly the gap this rung exists to close.

    Same determinism discipline as the unigram rung: each bigram
    type's -ln p floors to e6 integer ONCE (|bigram vocab| values),
    and per-doc aggregation runs in exact bigint arithmetic — no
    order-dependent float sum. Scale: bigram extraction is a narrow
    transform (no self-join on positions); counts partial-aggregate;
    the bigram-vocab probability table (bounded by vocab², tiny vs
    corpus) broadcasts; one doc_id shuffle for the final agg. Docs
    with <2 tokens are filtered EXPLICITLY before the transform:
    Spark's sequence(1, size-1) is DESCENDING [1, 0] at size=1 and
    would index past the array under ANSI mode, while DuckDB's
    range(1, 1) is simply empty — the guard makes both engines drop
    such docs identically instead of relying on that asymmetry."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    bg = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, concat(t[i-1], ' ', t[i]) AS bigram))"
            )
        ).alias("x"),
    ).select("doc_id", "x.w1", "x.bigram")
    c2 = bg.groupBy("w1", "bigram").agg(F.count("*").alias("c"))
    c1 = c2.groupBy("w1").agg(F.sum("c").alias("cw"))
    probs = c2.join(c1, "w1").select(
        "bigram",
        F.floor(-F.log(F.col("c").cast("double") / F.col("cw")) * 1000000)
        .cast("bigint")
        .alias("nll_e6"),
    )
    return (
        bg.join(F.broadcast(probs), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("nll_e6").cast("bigint").alias("nll_sum_e6"),
            F.floor(F.sum("nll_e6").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("avg_nll_e6"),
        )
    )


@query(
    "text_line_dedup",
    """
    WITH ls AS (
        SELECT doc_id, str_split(text, '. ') AS arr FROM documents
    ), lines AS (
        SELECT doc_id, i AS pos, arr[i] AS ln
        FROM (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i FROM ls)
        WHERE arr[i] <> ''
    ), freq AS (
        SELECT ln, COUNT(*) AS c FROM lines GROUP BY ln
    ), kept AS (
        SELECT doc_id, pos, ln FROM lines
        WHERE ln NOT IN (SELECT ln FROM freq WHERE c >= 3)
    )
    SELECT doc_id,
           string_agg(ln, '. ' ORDER BY pos) AS text_clean,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-level corpus dedup (the C4/RefinedWeb boilerplate pass):
    sentences occurring ≥3 times across the corpus — cookie banners,
    navigation chrome, legal footers — are struck from every document,
    and each document is reassembled from its surviving lines in
    original order. Doc-level dedup (dedup_exact/near) cannot touch
    these: the documents differ, their boilerplate doesn't.

    Scale shape is the asymmetry that makes this cheap: the REMOVED
    set (lines frequent enough to be boilerplate) is tiny relative to
    the corpus, so after one line-hash count the pass is a broadcast
    LEFT ANTI join — the corpus's exploded lines never shuffle again,
    and reassembly groups by doc_id (one shuffle, sized in surviving
    lines). Order is pinned by the exploded position (array_sort over
    (pos, line) structs; pos is unique per doc), so reassembly is
    deterministic in both engines. Docs that were ALL boilerplate drop
    out of both sides identically."""
    docs = load(spark, sf_dir, "documents")
    lines = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", "\\. ")).alias("pos", "ln")
        )
        .filter(F.col("ln") != "")
    )
    boiler = (
        lines.groupBy("ln")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 3)
        .select("ln")
    )
    kept = lines.join(F.broadcast(boiler), "ln", "left_anti")
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s["ln"],
            ),
            ". ",
        ).alias("text_clean"),
        F.count("*").cast("bigint").alias("n_kept"),
    )


@query(
    "text_ngram_topk",
    """
    WITH chars AS (
        SELECT lang, lower(text) AS t FROM documents
    ), grams AS (
        SELECT lang, substr(t, i, 3) AS gram
        FROM (SELECT lang, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM chars)
    ), counted AS (
        SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS n
        FROM grams GROUP BY lang, gram
    )
    SELECT lang, gram, n, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT lang, gram, n,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n DESC, gram) AS rnk
        FROM counted
    ) WHERE rnk <= 10
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 character trigrams per language — the feature table a
    classical n-gram language identifier trains on (langid profiles
    ARE ranked trigram lists; text_langid consumes exactly this kind
    of profile). Grams come from one narrow pass: sequence(1, len-2)
    → transform(substr) → explode — no self-join of positions.

    The count shuffles on (lang, gram) with map-side partial
    aggregation (the gram space collapses fast: |langs|×|distinct
    trigrams|, not corpus size), then the top-k is a WindowGroupLimit
    per lang — Spark pushes the rnk<=10 filter into the sort, keeping
    per-partition heaps of 10 instead of sorting every gram
    (win_topk_per_group precedent). Ties break on the gram itself, so
    rank order is total in both engines."""
    docs = load(spark, sf_dir, "documents").select(
        "lang", F.lower(F.col("text")).alias("t")
    )
    grams = docs.select(
        "lang",
        F.explode(
            F.transform(
                safe_offsets(F.length("t") - 2),
                lambda i: F.substr(F.col("t"), i, F.lit(3)),
            )
        ).alias("gram"),
    )
    counted = grams.groupBy("lang", "gram").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram"))
    return (
        counted.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
        .select("lang", "gram", "n", "rnk")
    )


@query(
    "sample_reservoir",
    """
    SELECT event_type, event_id, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT event_type, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST('0x' || substr(md5(event_type || ':'
                            || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT),
                            event_id) AS rnk
        FROM events
    ) WHERE rnk <= 10
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reservoir sample of k=10 per stream, distributed-safe: a
    uniform reservoir is EQUIVALENT to "the k rows with the smallest
    uniform random tags", so tagging every row with an md5 hash of
    its identity and keeping the per-group k smallest gives the same
    distribution with none of the sequential-scan statefulness of the
    classic algorithm — partial top-k heaps merge associatively
    across partitions (WindowGroupLimit pushes rnk<=k into the sort),
    and the sample is REPRODUCIBLE: identity-derived tags mean
    reruns, retries, and both engines draw the same rows, which is
    what makes a 100 TB training-mix sample auditable. Same
    md5-prefix-uniform trick as sample_deterministic, one rank per
    group instead of a global percentage."""
    ev = load(spark, sf_dir, "events")
    tag = md5_int(
        F.col("event_type"), F.lit(":"), F.col("event_id").cast("string"), digits=15
    )
    w = Window.partitionBy("event_type").orderBy(tag, F.col("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
        .select("event_type", "event_id", "rnk")
    )


@query(
    "sample_weighted",
    """
    WITH keyed AS (
        SELECT doc_id, lang,
               -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                         AS BIGINT) + 1.0) / 268435456.0)
               / CAST(n_chars AS DOUBLE) AS k
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY k, doc_id)
                   AS rnk
        FROM keyed
    ) WHERE rnk <= 5
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (k=5 per language),
    P(selected) ∝ document length, via the Efraimidis–Spirakis
    exponential-rank method: each row draws u ~ Uniform(0,1] and the
    k rows with the SMALLEST −ln(u)/w win — the reduction that turns
    weighted sampling into an associative per-group top-k (same merge
    property as sample_reservoir, so it distributes and replays).

    u is derived from md5(doc_id) (28-bit prefix, +1 to exclude 0) —
    deterministic, engine-portable, reproducible across retries; both
    engines evaluate the identical −ln(u)/w doubles so the rank order
    cannot diverge. This is the length-balanced pick a mixture
    pipeline uses when long documents should anchor the sample but
    short ones must still win sometimes — contrast text_mixture_sample
    (rate-per-source) and split_train_holdout (unweighted hash
    split)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (md5_int(F.col("doc_id").cast("string"), digits=7) + 1.0) / 268435456.0
    key = -F.log(u) / F.col("n_chars").cast("double")
    w = Window.partitionBy("lang").orderBy(key, F.col("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "lang", "rnk")
    )


@query(
    "bpe_pair_counts",
    """
    WITH words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ), pairs AS (
        SELECT substr(w, CAST(i AS INT), 2) AS pair, n
        FROM (
            SELECT w, n, unnest(range(1, len(w))) AS i
            FROM words WHERE len(w) >= 2
        )
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS merge_count
    FROM pairs GROUP BY pair
    ORDER BY merge_count DESC, pair
    LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration over the corpus (round 5): weighted
    adjacent-symbol-pair counts at the character stage — the argmax
    pair is the first merge a byte-pair-encoding tokenizer would
    learn. The implementation carries THE trick that makes BPE
    training feasible on a 100 TB corpus: aggregate to the word-count
    vocabulary FIRST (Zipf makes it tiny relative to the corpus), then
    expand character pairs over the VOCAB ONLY, weighted by word
    frequency — pair counting never touches corpus-sized data again,
    and every later merge iteration reruns over the same small table.
    Two map-side-combinable aggregations; the pair expansion is a
    narrow transform+explode between them. Top-20 with the pair-string
    tiebreak is a TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("merge_count"))
        .orderBy(F.col("merge_count").desc(), "pair")
        .limit(20)
    )


@query(
    "text_winnowing",
    """
    WITH sh AS (
        SELECT doc_id,
               list_transform(
                   range(1, len(ws) - 1),
                   i -> md5(concat_ws(' ', ws[CAST(i AS INT)],
                                      ws[CAST(i AS INT) + 1],
                                      ws[CAST(i AS INT) + 2]))
               ) AS hs
        FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
    ), sel AS (
        SELECT DISTINCT doc_id, h
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(hs) - 2),
                       i -> list_min(hs[CAST(i AS INT):CAST(i AS INT) + 3])
                   )) AS h
            FROM sh
        )
    ), df AS (
        SELECT h, COUNT(*) AS nd FROM sel GROUP BY h
    ), kept AS (
        SELECT s.doc_id, s.h FROM sel s JOIN df USING (h) WHERE df.nd <= 16
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """,
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap (round 5) — the MOSS algorithm
    (Schleimer, Wilkerson, Aiken, SIGMOD'03): hash every 3-word
    shingle, slide a window of w=4 consecutive hashes, select each
    window's MINIMUM — the selected set is guaranteed to catch any
    shared run of ≥ w+2 words between two documents (the winnowing
    guarantee text_fingerprint's global k-min sketch does NOT give),
    at ~2/(w+1) selection density. Docs sharing ≥2 selected
    fingerprints are plagiarism/near-dup candidates.

    Everything up to the distinct is NARROW: shingle hashes and
    window minima are per-row array math (transform over offsets +
    array_min over slices — no window function, no exchange), so the
    first shuffle ever sees only the sparse selected set. Pair
    generation is fingerprint-bucketed with the same count-certified
    hot-bucket cap as dedup_near (fingerprints in >16 docs are
    boilerplate, dropped before pairing) — never all-pairs. md5 is the
    engine-portable hash family (SURVEY §2.10 discipline)."""
    d = (
        load(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    ws = F.col("ws")
    sh = d.select(
        "doc_id",
        F.when(
            F.size(ws) >= 3,
            F.transform(
                safe_offsets(F.size(ws) - 2),
                lambda i: F.md5(
                    F.concat_ws(
                        " ",
                        F.element_at(ws, i),
                        F.element_at(ws, i + 1),
                        F.element_at(ws, i + 2),
                    ).cast("binary")
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("hs"),
    )
    hs = F.col("hs")
    sel = (
        sh.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(hs) >= 4,
                    F.transform(
                        safe_offsets(F.size(hs) - 3),
                        lambda i: F.array_min(F.slice(hs, i, 4)),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("h"),
        )
        .distinct()
        # Round-16 (guide §2.4): the shingle-hash + window-min explode
        # fed THREE consumers (df and both pair-join sides via kept)
        # with no subtree reuse — the before-plan re-scanned documents
        # 8x and ran the Generate 8x. Materialize the selected
        # fingerprint set once.
        .transform(materialize)
    )
    df_ = sel.groupBy("h").agg(F.count("*").alias("nd"))
    # kept feeds both pair-join sides — same discipline.
    kept = (
        sel.join(df_.filter(F.col("nd") <= 16), "h")
        .select("doc_id", "h")
        .transform(materialize)
    )
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )


@query(
    "vocab_coverage",
    """
    WITH toks AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token
        FROM documents
    ), vocab AS (
        SELECT token FROM (
            SELECT token,
                   row_number() OVER (ORDER BY COUNT(*) DESC, token) AS rnk
            FROM toks GROUP BY token
        ) WHERE rnk <= 1000
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
           CAST(FLOOR(COUNT(*) FILTER (WHERE v.token IS NULL) * 10000.0
                      / COUNT(*)) AS BIGINT) AS oov_e4
    FROM toks t LEFT JOIN vocab v ON v.token = t.token
    GROUP BY doc_id
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV-rate audit (round 5): per-document
    fraction of tokens outside the corpus's own top-1000 vocabulary —
    the tokenizer-health rung of a training-data pipeline (a doc whose
    tokens are mostly out-of-vocabulary will fragment into rare-piece
    soup at tokenization time; corpora are gated on this before BPE
    training, and the same readout decides when a tokenizer must be
    retrained for a new domain). Ties at the vocab boundary are pinned
    by (count DESC, token) so the 1000-token cut is identical in both
    engines.

    Scale: vocab = one token aggregate → top-k (TakeOrdered, tiny) →
    BROADCAST against the token stream; the per-doc rollup is the one
    doc_id-keyed aggregation. The OOV flag never materializes a
    corpus-sized join output wider than the token stream itself."""
    toks = tokens(load(spark, sf_dir, "documents")).select("doc_id", "token")
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(1000)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "token", "left")
    oov = F.count_if(F.col("in_vocab").isNull())
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        oov.cast("bigint").alias("n_oov"),
        F.floor(oov * 10000.0 / F.count("*")).cast("bigint").alias("oov_e4"),
    )


@query(
    "text_dsir_weights",
    """
    WITH toks AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
    ), raw_counts AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cr FROM toks GROUP BY token
    ), tgt_counts AS (
        SELECT t.token, CAST(COUNT(*) AS BIGINT) AS ct
        FROM toks t JOIN documents d USING (doc_id)
        WHERE d.lang = 'en' GROUP BY t.token
    ), scal AS (
        SELECT (SELECT CAST(SUM(cr) AS DOUBLE) FROM raw_counts) AS nr,
               (SELECT CAST(COALESCE(SUM(ct), 0) AS DOUBLE)
                FROM tgt_counts) AS nt,
               (SELECT CAST(COUNT(*) AS DOUBLE) FROM raw_counts) AS v
    ), lm AS (
        SELECT r.token,
               CAST(FLOOR((ln((CAST(COALESCE(t.ct, 0) AS DOUBLE) + 1.0)
                              / (s.nt + s.v))
                           - ln(CAST(r.cr AS DOUBLE) / s.nr))
                          * 1000000) AS BIGINT) AS w_e6
        FROM raw_counts r LEFT JOIN tgt_counts t USING (token), scal s
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(l.w_e6) AS BIGINT) AS logw_sum_e6,
           CAST(FLOOR(CAST(SUM(l.w_e6) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS avg_logw_e6
    FROM toks t JOIN lm l USING (token)
    GROUP BY t.doc_id
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (round 5 batch 6) — Data Selection via
    Importance Resampling (Xie et al., NeurIPS'23): score every
    document by how much more likely its tokens are under a TARGET
    domain LM (here the corpus's English slice) than under the raw
    corpus LM; log w(doc) = Σ_tok [ln p_target − ln p_raw]. Sampling
    proportional to exp(log w) is how a 100 TB crawl is tilted toward
    a quality domain without training a classifier — the natural next
    rung after text_unigram_logprob's single-LM perplexity gate.

    Add-1 smoothing over the CORPUS vocabulary keeps p_target finite
    for tokens the target slice never saw. Determinism is the
    unigram-logprob discipline: each vocab entry's log-ratio is
    floored to e6 ONCE, per-doc aggregation then runs in exact bigint
    — no order-dependent float folds; the three LM normalizers are
    bounded scalars (vocab-level aggregates, collected once like the
    unigram LM's).

    Scale: two token-count aggs (map-side combinable), a vocab-sized
    LEFT join to build the weight table (broadcast), one doc-keyed
    agg. The weight table is the persistable artifact — re-tilting
    with a new target re-uses the raw counts untouched."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("token"),
    )
    raw = toks.groupBy("token").agg(F.count("*").cast("bigint").alias("cr"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("ct"))
    )
    n_raw = float(toks.count())
    n_tgt = float(toks.filter(F.col("lang") == "en").count())
    vocab = float(raw.count())
    lm = raw.join(tgt, "token", "left").select(
        "token",
        F.floor(
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)).cast("double") + 1.0)
                    / F.lit(n_tgt + vocab)
                )
                - F.log(F.col("cr").cast("double") / F.lit(n_raw))
            )
            * 1000000
        )
        .cast("bigint")
        .alias("w_e6"),
    )
    return (
        toks.join(F.broadcast(lm), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("w_e6").cast("bigint").alias("logw_sum_e6"),
            F.floor(F.sum("w_e6").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("avg_logw_e6"),
        )
    )


@query(
    "bpe_merge_apply",
    """
    WITH words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ), top_pair AS (
        SELECT pair FROM (
            SELECT substr(w, CAST(i AS INT), 2) AS pair, SUM(n) AS c
            FROM (SELECT w, n, unnest(range(1, len(w))) AS i
                  FROM words WHERE len(w) >= 2)
            GROUP BY 1 ORDER BY c DESC, pair LIMIT 1
        )
    ), merged AS (
        SELECT replace(w, (SELECT pair FROM top_pair), chr(1)) AS w, n
        FROM words
    ), pairs2 AS (
        SELECT substr(w, CAST(i AS INT), 2) AS p2, n
        FROM (SELECT w, n, unnest(range(1, len(w))) AS i
              FROM merged WHERE len(w) >= 2)
    )
    SELECT replace(p2, chr(1),
                   '(' || (SELECT pair FROM top_pair) || ')') AS pair,
           CAST(SUM(n) AS BIGINT) AS merge_count
    FROM pairs2 GROUP BY 1
    ORDER BY merge_count DESC, pair
    LIMIT 20
    """,
)
def bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second BPE training iteration (round 5 batch 6): take
    bpe_pair_counts' argmax pair, MERGE it into a single symbol across
    the weighted vocabulary, and recount adjacent-symbol pairs — the
    inductive step that, iterated, learns the whole merge table. The
    merged symbol is a 1-byte sentinel (chr(1), collision-free against
    the corpus alphabet), so the next-level symbols stay fixed-width
    and pair extraction stays the same substring transform; output
    pairs render the sentinel back as '(ab)'.

    The greedy left-to-right non-overlap semantics BPE specifies is
    EXACTLY what string replace() does on both engines ('aaa' under
    merge 'aa' → '<m>a', never 'a<m>'), which is why the merge is a
    plain replace and not a regex. The winning pair joins in as a
    broadcast 1-row table — no driver round-trip; the whole iteration
    stays the vocab-sized Zipf reduction of bpe_pair_counts (corpus
    touched zero times here), which is what makes 50k-merge training
    runs feasible at 100 TB.

    Ties at the argmax pin on (count desc, pair) — both engines pick
    the same winner by construction."""
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    pair_of = lambda df: df.filter(F.length("w") >= 2).select(  # noqa: E731
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    top = (
        pair_of(words)
        .groupBy("pair")
        .agg(F.sum("n").alias("c"))
        .orderBy(F.col("c").desc(), "pair")
        .limit(1)
        .select(F.col("pair").alias("mp"))
    )
    merged = words.crossJoin(F.broadcast(top)).select(
        F.replace(F.col("w"), F.col("mp"), F.lit("\x01")).alias("w"),
        "n",
        "mp",
    )
    pairs2 = merged.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("p2"),
        "n",
        "mp",
    )
    return (
        pairs2.groupBy(
            F.replace(
                F.col("p2"),
                F.lit("\x01"),
                F.concat(F.lit("("), F.col("mp"), F.lit(")")),
            ).alias("pair")
        )
        .agg(F.sum("n").cast("bigint").alias("merge_count"))
        .orderBy(F.col("merge_count").desc(), "pair")
        .limit(20)
    )


@query(
    "text_gopher_rules",
    f"""
    WITH g AS (
        SELECT doc_id,
               str_split(text, ' ') AS ws,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(replace(text, ' ', '')) -
                    length(regexp_replace(replace(text, ' ', ''),
                                          '[a-z]', '', 'g')) AS BIGINT)
                   AS n_alpha
        FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(FLOOR(CAST(n_chars - len(ws) + 1 AS DOUBLE)
                          / len(ws) * 100) AS BIGINT) AS avg_wlen_e2,
               CAST(FLOOR((1.0 - CAST(n_alpha AS DOUBLE)
                                 / CAST(n_chars - len(ws) + 1 AS DOUBLE))
                          * 10000) AS BIGINT) AS symbol_ratio_e4,
               CAST(FLOOR(CAST(len(list_filter(ws,
                        w -> regexp_matches(w, '^[a-z]+$'))) AS DOUBLE)
                        / len(ws) * 10000) AS BIGINT) AS alpha_word_e4,
               CAST(len(list_filter(ws,
                        w -> list_contains({list(_STOPWORDS)}, w)))
                    AS BIGINT) AS n_stop
        FROM g
    )
    SELECT doc_id, n_words, avg_wlen_e2, symbol_ratio_e4, alpha_word_e4,
           n_stop,
           CAST(CASE WHEN n_words BETWEEN 10 AND 5000 THEN 1 ELSE 0 END
              + CASE WHEN avg_wlen_e2 BETWEEN 300 AND 1000 THEN 2 ELSE 0 END
              + CASE WHEN symbol_ratio_e4 <= 1000 THEN 4 ELSE 0 END
              + CASE WHEN alpha_word_e4 >= 8000 THEN 8 ELSE 0 END
              + CASE WHEN n_stop >= 2 THEN 16 ELSE 0 END AS BIGINT)
               AS rules_mask,
           (n_words BETWEEN 10 AND 5000
            AND avg_wlen_e2 BETWEEN 300 AND 1000
            AND symbol_ratio_e4 <= 1000
            AND alpha_word_e4 >= 8000
            AND n_stop >= 2) AS passes
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule bundle (round 5 batch 6) — the Rae et
    al. 2021 heuristic battery as ONE narrow projection: word-count
    bounds, mean-word-length band (3.00–10.00), symbol-to-character
    ratio cap, alphabetic-word fraction floor, and a ≥2-stopword
    function-word check. Emits every sub-metric PLUS a bitmask of
    which rules passed — the mask is what corpus triage dashboards
    facet on ('which rule kills most of source X?'), where
    text_quality's single gate only says yes/no.

    Parity choices that keep it exact: mean word length counts
    NON-SPACE characters ((n_chars − n_words + 1)/n_words — spaces are
    separators, not word mass); the symbol ratio is 1 − alpha/nonspace
    with both counts integer before the one floored division; the
    alphabetic-word test is the same anchored regex on both engines.
    All per-row, zero shuffles — at 100 TB this runs as a scan-fused
    filter in the same stage as the tokenizer that follows it."""
    d = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_words = F.size(ws).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    nonspace = n_chars - n_words + 1
    n_alpha = (
        F.length(F.regexp_replace(F.regexp_replace("text", " ", ""), "[^a-z]", ""))
    ).cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.floor(nonspace.cast("double") / n_words * 100)
        .cast("bigint")
        .alias("avg_wlen_e2"),
        F.floor(
            (1.0 - n_alpha.cast("double") / nonspace.cast("double")) * 10000
        )
        .cast("bigint")
        .alias("symbol_ratio_e4"),
        F.floor(
            F.size(F.filter(ws, lambda w: w.rlike("^[a-z]+$"))).cast("double")
            / n_words
            * 10000
        )
        .cast("bigint")
        .alias("alpha_word_e4"),
        F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
        .cast("bigint")
        .alias("n_stop"),
    )
    r1 = F.col("n_words").between(10, 5000)
    r2 = F.col("avg_wlen_e2").between(300, 1000)
    r3 = F.col("symbol_ratio_e4") <= 1000
    r4 = F.col("alpha_word_e4") >= 8000
    r5 = F.col("n_stop") >= 2
    mask = (
        r1.cast("bigint")
        + r2.cast("bigint") * 2
        + r3.cast("bigint") * 4
        + r4.cast("bigint") * 8
        + r5.cast("bigint") * 16
    )
    return m.select(
        "doc_id",
        "n_words",
        "avg_wlen_e2",
        "symbol_ratio_e4",
        "alpha_word_e4",
        "n_stop",
        mask.cast("bigint").alias("rules_mask"),
        (r1 & r2 & r3 & r4 & r5).alias("passes"),
    )


@query(
    "text_keywords_topk",
    """
    WITH toks AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
    ), tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    ), df AS (
        SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY 1
    ), n AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM toks
    ), idf AS (
        SELECT token,
               CAST(FLOOR(ln((SELECT n FROM n) / CAST(df AS DOUBLE))
                          * 1000000) AS BIGINT) AS idf_e6
        FROM df
    ), scored AS (
        SELECT tf.doc_id, tf.token, tf.tf,
               CAST(tf.tf * idf.idf_e6 AS BIGINT) AS score_e6,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * idf.idf_e6 DESC,
                                           tf.token) AS r
        FROM tf JOIN idf USING (token)
    )
    SELECT doc_id, token AS keyword, tf, score_e6,
           CAST(r AS BIGINT) AS rank
    FROM scored WHERE r <= 3
    """,
)
def text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction (round 5 batch 7): each doc's
    top-3 tokens by tf·idf — the tagging/snippet/routing readout built
    on text_tfidf's statistics but delivering the RANKED surface a
    search index or labeling pipeline actually consumes.

    Ranking runs ENTIRELY in integer domain: idf is floored to e6
    once per vocab entry, the score is the bigint product tf·idf_e6,
    and the per-doc order pins ties on the token string — so the
    top-3 cut is bit-reproducible with no float comparison anywhere.
    (Scoring formula: raw tf × ln(N/df); the sublinear 1+ln(tf)
    variant is a one-line swap, documented not shipped.)

    Scale: tf agg shuffles on (doc, token); the vocab-sized idf table
    broadcasts; the top-3 window compiles to WindowGroupLimit — rank
    state never exceeds k per doc."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    df = toks.groupBy("token").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    n_docs = float(toks.select("doc_id").distinct().count())
    idf = df.select(
        "token",
        F.floor(F.log(F.lit(n_docs) / F.col("df").cast("double")) * 1000000)
        .cast("bigint")
        .alias("idf_e6"),
    )
    scored = tf.join(F.broadcast(idf), "token").withColumn(
        "score_e6", (F.col("tf") * F.col("idf_e6")).cast("bigint")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_e6").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", F.col("token").alias("keyword"), "tf", "score_e6", "rank")
    )


@query(
    "text_url_normalize",
    """
    WITH seeded AS (
        SELECT doc_id,
               'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
               || '.COM:443/Path' || CAST(doc_id % 13 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
               || '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
               || CASE WHEN doc_id % 2 = 0 THEN '&fbclid=AbC123' ELSE '' END
               || CASE WHEN doc_id % 4 = 0 THEN '&ref=home' ELSE '' END
               || '#section' || CAST(doc_id % 3 AS VARCHAR) AS url
        FROM documents
    ), canon AS (
        SELECT doc_id, url,
               regexp_replace(
                   regexp_replace(
                       replace(lower(regexp_extract(
                           regexp_replace(url, '#.*$', ''), '^[^?]*')),
                           ':443/', '/'),
                       '/$', ''),
                   '^https?://www\\.', 'https://') AS base,
               list_filter(
                   str_split(regexp_extract(
                       regexp_replace(url, '#.*$', ''), '\\?(.*)$', 1), '&'),
                   p -> p <> '' AND NOT p LIKE 'utm_%'
                        AND NOT p LIKE 'fbclid=%') AS kept
        FROM seeded
    ), built AS (
        SELECT doc_id, url,
               base || CASE WHEN len(kept) > 0
                            THEN '?' || array_to_string(kept, '&')
                            ELSE '' END AS canon_url
        FROM canon
    )
    SELECT doc_id, url, canon_url,
           CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT)
               AS n_sharing
    FROM built
    """,
)
def text_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup (round 5 batch 8): the
    same page arrives as HTTPS://WWW.Site.COM:443/Path/?utm_source=…
    and https://site.com/path — URL-key dedup without normalization
    silently keeps both. The battery: drop the fragment, lowercase
    scheme+host+path, strip the :443 default port, strip the trailing
    slash, collapse www., and delete tracking parameters (utm_*,
    fbclid) while KEEPING meaningful ones — then count how many docs
    share each canonical key (the dedup group size a crawl frontier
    thresholds on). Fixture documents carry no URLs, so they are
    seeded deterministically from doc_id (the text_pii_scrub
    precedent) with every messy feature exercised.

    Parity trap pinned: replacement-group syntax DIFFERS between
    engines (Java $1 vs RE2 \\1), so every regexp_replace here uses
    a groupless pattern; the port strip is a literal replace.

    Scale: pure per-row string work (narrow, codegen) + one window
    count on the canonical key — at 100 TB the count becomes the
    groupBy the frontier already does."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/Path"),
        (F.col("doc_id") % 13).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("&fbclid=AbC123")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 4 == 0, F.lit("&ref=home")).otherwise(
            F.lit("")
        ),
        F.lit("#section"),
        (F.col("doc_id") % 3).cast("string"),
    )
    no_frag = F.regexp_replace(url, r"#.*$", "")
    base = F.regexp_replace(
        F.regexp_replace(
            F.replace(
                F.lower(F.regexp_extract(no_frag, r"^[^?]*", 0)),
                F.lit(":443/"),
                F.lit("/"),
            ),
            r"/$",
            "",
        ),
        r"^https?://www\.",
        "https://",
    )
    kept = F.filter(
        F.split(F.regexp_extract(no_frag, r"\?(.*)$", 1), "&"),
        lambda p: (p != "")
        & ~p.startswith("utm_")
        & ~p.startswith("fbclid="),
    )
    canon = F.concat(
        base,
        F.when(
            F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
        ).otherwise(F.lit("")),
    )
    built = d.select(
        "doc_id", url.alias("url"), canon.alias("canon_url")
    )
    return built.withColumn(
        "n_sharing",
        F.count("*").over(Window.partitionBy("canon_url")).cast("bigint"),
    )


@query(
    "text_ngram_novelty",
    """
    WITH sh AS (
        SELECT DISTINCT doc_id,
               md5(concat_ws(' ', ws[CAST(i AS INT)],
                             ws[CAST(i AS INT) + 1],
                             ws[CAST(i AS INT) + 2])) AS g
        FROM (
            SELECT doc_id, str_split(text, ' ') AS ws FROM documents
        ), unnest(range(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 3
    ), firsts AS (
        SELECT g, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM sh GROUP BY g
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (f.first_doc = sh.doc_id) AS BIGINT)
               AS n_novel,
           CAST(FLOOR(CAST(COUNT(*) FILTER (f.first_doc = sh.doc_id)
                           AS DOUBLE) / COUNT(*) * 10000) AS BIGINT)
               AS novelty_e4
    FROM sh JOIN firsts f USING (g)
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (round 5 batch 13): the fraction of
    a doc's distinct 3-gram shingles that NO earlier doc (lower
    doc_id ≈ earlier ingest) already contains — the incremental-value
    metric of continued crawling ("day-30 of this source is 95%
    re-hash of day-1"), and the inter-document redundancy readout
    BETWEEN exact-dup (novelty 0 against its twin) and topical overlap
    that dedup thresholds don't surface.

    First-occurrence attribution is one MIN(doc_id) per shingle —
    order-free, merge-safe — joined back onto the per-doc shingle
    sets; both counts are exact bigints with one floored ratio.
    Shingling reuses text_winnowing's narrow transform (no window, no
    explode before the distinct).

    Scale: the shingle-first table is the persisted artifact — a new
    batch's novelty needs only ITS shingles probed against it
    (broadcast or bucketed anti-join), never a corpus rescan; at rest
    it is exactly a Bloom-backed seen-set. The min-attribution
    shuffles on the shingle hash once."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    sh = (
        docs.filter(F.size(ws) >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(ws) - 2),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ",
                            F.element_at(ws, i),
                            F.element_at(ws, i + 1),
                            F.element_at(ws, i + 2),
                        ).cast("binary")
                    ),
                )
            ).alias("g"),
        )
        .distinct()
    )
    # Round-15: first_doc = min(doc_id) per shingle as a WINDOW over
    # the deduped shingle frame instead of a groupBy + self-join — the
    # join re-shuffled both the aggregate and the probe side by g on
    # top of the distinct's own exchange; the window attaches the same
    # value with ONE g-keyed exchange and no join (guide §2.4: window
    # keyed like the preceding operation shares its partitioning).
    j = sh.withColumn(
        "first_doc",
        F.min("doc_id").over(Window.partitionBy("g")).cast("bigint"),
    )
    novel = F.count_if(F.col("first_doc") == F.col("doc_id"))
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        novel.cast("bigint").alias("n_novel"),
        F.floor(novel.cast("double") / F.count("*") * 10000)
        .cast("bigint")
        .alias("novelty_e4"),
    )


@query(
    "text_zipf_slope",
    """
    WITH counts AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY token
    ), ranked AS (
        SELECT f,
               row_number() OVER (ORDER BY f DESC, token) AS r
        FROM counts
    ), pts AS (
        SELECT CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1000) AS BIGINT) AS x,
               CAST(FLOOR(ln(CAST(f AS DOUBLE)) * 1000) AS BIGINT) AS y
        FROM ranked
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT n AS vocab_size,
           CAST(FLOOR(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * 1000000) AS BIGINT) AS slope_e6,
           CAST(FLOOR(
               (CAST(sy AS DOUBLE) / n
                - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE) / n) / 1000 * 1000000) AS BIGINT)
               AS intercept_e6
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the token frequency distribution (round 5
    batch 14): regress ln(frequency) on ln(rank) over the whole vocab
    — natural language sits near slope −1; a corpus that drifts flat
    (template spam, boilerplate floods) or too steep (vocabulary
    collapse, over-dedup) fails this corpus-health check before any
    downstream tokenizer or mixture decision trusts it.

    Determinism: ranks pin on (freq desc, token); each vocab entry's
    (ln r, ln f) pair floors to e3 integers ONCE — e3, not e6, so the
    Σxy bigint stays exact past 10⁸-entry vocabularies — and the OLS
    slope/intercept run as one double formula over the five exact
    sums (agg_corr_exact's shape; the quantization perturbs the fit
    by <1e-3, identically on both engines, which is what an oracle
    needs). The intercept de-scales back to ln-frequency units.

    Scale: one token-count agg; the rank window runs over the
    Zipf-tiny vocab (the bpe_pair_counts reduction); the regression
    state is five bigints."""
    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(F.count("*").cast("bigint").alias("f"))
    w = Window.orderBy(F.col("f").desc(), F.col("token"))
    ranked = counts.select("f", F.row_number().over(w).alias("r"))
    pts = ranked.select(
        F.floor(F.log(F.col("r").cast("double")) * 1000)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("f").cast("double")) * 1000)
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    intercept = (d("sy") / F.col("n") - slope * d("sx") / F.col("n")) / 1000
    return s.select(
        F.col("n").alias("vocab_size"),
        F.floor(slope * 1000000).cast("bigint").alias("slope_e6"),
        F.floor(intercept * 1000000).cast("bigint").alias("intercept_e6"),
    )


@query(
    "text_hash_features",
    """
    WITH toks AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
    ), hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(token), 1, 7) AS BIGINT) % 1024
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE token <> '' GROUP BY 1, 2
    ), packed AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               string_agg(CAST(bucket AS VARCHAR) || ':'
                          || CAST(c AS VARCHAR), ','
                          ORDER BY bucket) AS features
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, n_active, features FROM packed
    """,
)
def text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing — the hashing trick (round 5 batch 17): tokens
    map straight to one of 2¹⁰ feature indices via md5, giving every
    document a FIXED-dimension sparse count vector with NO vocabulary
    pass, no dictionary to build/ship/version — the featurizer that
    makes streaming/online linear models and out-of-core training
    possible (Weinberger et al., ICML'09). Collisions are the accepted
    tax (here ~vocab/1024 per bucket), which is why the bucket count
    is the tunable.

    The sparse vector serializes as an ordered 'idx:count' join —
    driver-safe scalar encoding, deterministic: bucket ids are
    md5-derived (engine-portable, the split_train_holdout discipline)
    and the pack orders by bucket. Counts exact bigint.

    Scale: one (doc, bucket) agg — map-side combinable — then a
    doc-keyed pack of ≤1024 entries; no vocabulary table exists at
    ANY scale, which is the entire point."""
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    bucket = md5_int(F.col("token"), digits=7) % 1024
    hashed = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    entry = F.concat(
        F.col("bucket").cast("string"), F.lit(":"), F.col("c").cast("string")
    )
    packed = (
        hashed.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_active"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("bucket", "c"))
                    ),
                    lambda s: F.concat(
                        s.bucket.cast("string"),
                        F.lit(":"),
                        s.c.cast("string"),
                    ),
                ),
                ",",
            ).alias("features"),
        )
    )
    return packed


@query(
    "text_entity_extract",
    """
    WITH seeded AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 5 = 0
                    THEN ' due 2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
                         || '-15'
                    ELSE '' END
                    || CASE WHEN doc_id % 4 = 0
                    THEN ' amount $' || CAST(doc_id % 900 + 100 AS VARCHAR)
                         || '.50'
                    ELSE '' END
                    || CASE WHEN doc_id % 7 = 0
                    THEN ' ref INV-' || CAST(doc_id * 13 % 10000 AS VARCHAR)
                    ELSE '' END AS body
        FROM documents
    ), dates AS (
        SELECT doc_id, 'date' AS entity_type,
               unnest(regexp_extract_all(body,
                   '[0-9]{4}-[0-9]{2}-[0-9]{2}')) AS value
        FROM seeded
    ), amounts AS (
        SELECT doc_id, 'amount' AS entity_type,
               unnest(regexp_extract_all(body,
                   '\\$[0-9]+\\.[0-9]{2}')) AS value
        FROM seeded
    ), refs AS (
        SELECT doc_id, 'reference' AS entity_type,
               unnest(regexp_extract_all(body, 'INV-[0-9]+')) AS value
        FROM seeded
    )
    SELECT * FROM dates
    UNION ALL SELECT * FROM amounts
    UNION ALL SELECT * FROM refs
    """,
)
def text_entity_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed entity extraction to a long table (round 5 batch 23):
    dates, money amounts and reference codes pulled from text into
    (doc_id, entity_type, value) rows — the EXTRACT side of the
    regex surface where text_pii_scrub is the MASK side; the long
    shape is what entity linking, invoice pipelines and weak-labeling
    joins consume (one row per mention, not one column per type — new
    entity types are new UNION branches, not schema changes).

    Entities are seeded deterministically into a doc slice (the
    pii_scrub precedent; the fixture corpus is word salad), each
    class extracted with an anchored regexp_extract_all + explode —
    per-row, codegen'd, no capture-group replacement anywhere.

    Scale: three narrow extract branches over ONE scan (Catalyst
    collapses the union's shared source); output is mention-sized."""
    d = load(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" due 2024-0"),
                (F.col("doc_id") % 9 + 1).cast("string"),
                F.lit("-15"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" amount $"),
                (F.col("doc_id") % 900 + 100).cast("string"),
                F.lit(".50"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" ref INV-"),
                (F.col("doc_id") * 13 % 10000).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    seeded = d.select("doc_id", body.alias("body"))
    branch = lambda etype, pat: seeded.select(  # noqa: E731
        "doc_id",
        F.lit(etype).alias("entity_type"),
        F.explode(F.regexp_extract_all("body", F.lit(pat), 0)).alias("value"),
    )
    return (
        branch("date", r"[0-9]{4}-[0-9]{2}-[0-9]{2}")
        .unionAll(branch("amount", r"\$[0-9]+\.[0-9]{2}"))
        .unionAll(branch("reference", r"INV-[0-9]+"))
    )


@query(
    "text_js_divergence",
    """
    WITH toks AS (
        SELECT d.source, unnest(str_split(d.text, ' ')) AS token
        FROM documents d
        WHERE d.source IN ('src7', 'src13')
    ), counts AS (
        SELECT token,
               CAST(COUNT(*) FILTER (source = 'src7') AS BIGINT) AS cp,
               CAST(COUNT(*) FILTER (source = 'src13') AS BIGINT) AS cq
        FROM toks GROUP BY token
    ), tot AS (
        SELECT token, cp, cq,
               CAST(SUM(cp) OVER () AS BIGINT) AS np,
               CAST(SUM(cq) OVER () AS BIGINT) AS nq,
               CAST(COUNT(*) OVER () AS BIGINT) AS v
        FROM counts
    ), probs AS (
        SELECT token, cp, cq,
               (CAST(cp + 1 AS DOUBLE) / (np + v)) AS p,
               (CAST(cq + 1 AS DOUBLE) / (nq + v)) AS q
        FROM tot
    ), terms AS (
        SELECT token, cp, cq,
               CAST(FLOOR((0.5 * p * ln(p / ((p + q) / 2))
                           + 0.5 * q * ln(q / ((p + q) / 2)))
                          * 1000000000) AS BIGINT) AS term_e9
        FROM probs
    )
    SELECT token, cp, cq, term_e9,
           CAST(SUM(term_e9) OVER () AS BIGINT) AS js_sum_e9
    FROM terms
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two sources' token
    distributions (round 5 batch 24): ½KL(P‖M) + ½KL(Q‖M) with M the
    mixture — the SYMMETRIC, always-finite sibling of
    agg_kl_divergence (KL(P‖Q) blows up where Q has a hole and
    changes with argument order; JS is bounded by ln 2 and
    direction-free), which is why corpus-mixture monitoring and
    source-similarity matrices use JS, not raw KL. Per-token terms
    ride along, so 'WHICH tokens drive the divergence' — the
    actionable part — is the same scan.

    Same determinism layering as the KL operator: vocab-level
    conditional counts exact bigint, add-1 smoothing over the shared
    vocab, each token's JS term ONE double expression floored e9
    before the order-free total. Bound 0 ≤ JS ≤ ln 2 referee-checked.

    Scale: one vocab-keyed conditional-count agg; everything after is
    vocab-sized."""
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src7", "src13"))
        .select("source", F.explode(F.split("text", " ")).alias("token"))
    )
    counts = toks.groupBy("token").agg(
        F.count_if(F.col("source") == "src7").cast("bigint").alias("cp"),
        F.count_if(F.col("source") == "src13").cast("bigint").alias("cq"),
    )
    wall = Window.partitionBy()
    tot = counts.select(
        "token",
        "cp",
        "cq",
        F.sum("cp").over(wall).cast("bigint").alias("np"),
        F.sum("cq").over(wall).cast("bigint").alias("nq"),
        F.count("*").over(wall).cast("bigint").alias("v"),
    )
    p = (F.col("cp") + 1).cast("double") / (F.col("np") + F.col("v"))
    q = (F.col("cq") + 1).cast("double") / (F.col("nq") + F.col("v"))
    m = (p + q) / 2
    terms = tot.select(
        "token",
        "cp",
        "cq",
        F.floor((0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)) * 1000000000)
        .cast("bigint")
        .alias("term_e9"),
    )
    return terms.withColumn(
        "js_sum_e9", F.sum("term_e9").over(wall).cast("bigint")
    )


@query(
    "text_heaps_law",
    """
    WITH toks AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token
        FROM documents WHERE text <> ''
    ), firsts AS (
        SELECT token, CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM toks GROUP BY token
    ), per_doc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(COUNT(*) FILTER (f.first_doc = t.doc_id
                    AND t.rn = 1) AS BIGINT) AS n_new
        FROM (SELECT doc_id, token,
                     row_number() OVER (PARTITION BY doc_id, token
                                        ORDER BY doc_id) AS rn
              FROM toks) t
        JOIN firsts f USING (token)
        GROUP BY t.doc_id
    ), cum AS (
        SELECT doc_id,
               CAST(SUM(n_toks) OVER w AS BIGINT) AS cum_toks,
               CAST(SUM(n_new) OVER w AS BIGINT) AS cum_vocab,
               row_number() OVER (ORDER BY doc_id) AS rn,
               COUNT(*) OVER () AS n_docs
        FROM per_doc
        WINDOW w AS (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), pts AS (
        SELECT CAST(FLOOR(ln(CAST(cum_toks AS DOUBLE)) * 1000) AS BIGINT)
                   AS x,
               CAST(FLOOR(ln(CAST(cum_vocab AS DOUBLE)) * 1000) AS BIGINT)
                   AS y
        FROM cum WHERE rn % GREATEST(n_docs // 20, 1) = 0
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT n AS n_checkpoints,
           CAST(FLOOR(
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               * 1000000) AS BIGINT) AS beta_e6
    FROM s
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth fit (round 5 batch 28): V(n) ≈
    K·n^β estimated by log-log OLS over ~20 checkpoints of the
    (tokens seen, distinct vocab seen) curve in doc-id ingest order —
    the companion of text_zipf_slope (Zipf: frequency vs rank at one
    instant; Heaps: vocabulary vs corpus size over time, and the two
    exponents are theoretically linked β ≈ 1/slope). Natural text
    sits at β ≈ 0.4-0.7; β near 1 means the corpus never repeats
    itself (ids/noise leaking into text), β near 0 means template
    flood — the same failure modes text_ngram_novelty flags per doc,
    here as ONE corpus curve exponent.

    New-vocabulary attribution per doc = MIN(doc_id) per token
    (novelty's discipline) counted once per (doc, token); cumulative
    sums ride one ordered window over the per-doc table; checkpoint
    (ln n, ln V) pairs floor to e3 ONCE (zipf discipline) and the
    slope runs on five exact sums.

    Scale: token firsts = one shuffle; the curve and fit live on
    |docs| then ~20 rows."""
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text") != "")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )
    firsts = toks.groupBy("token").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    per_tok = toks.join(firsts, "token").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id", "token").orderBy("doc_id")
        ),
    )
    per_doc = per_tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_toks"),
        F.count_if(
            (F.col("first_doc") == F.col("doc_id")) & (F.col("rn") == 1)
        )
        .cast("bigint")
        .alias("n_new"),
    )
    wcum = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = per_doc.select(
        "doc_id",
        F.sum("n_toks").over(wcum).cast("bigint").alias("cum_toks"),
        F.sum("n_new").over(wcum).cast("bigint").alias("cum_vocab"),
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
        F.count("*").over(wall).alias("n_docs"),
    )
    pts = cum.filter(
        F.col("rn") % F.greatest(F.floor(F.col("n_docs") / 20), F.lit(1)) == 0
    ).select(
        F.floor(F.log(F.col("cum_toks").cast("double")) * 1000)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("cum_vocab").cast("double")) * 1000)
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    beta = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    return s.select(
        F.col("n").alias("n_checkpoints"),
        F.floor(beta * 1000000).cast("bigint").alias("beta_e6"),
    )


@query(
    "sample_upsample_mixture",
    """
    WITH planned AS (
        SELECT doc_id, source,
               CAST(substr(source, 4) AS BIGINT) % 3
               + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 7) AS BIGINT)
                           / 268435456.0 < 0.5
                      THEN 1 ELSE 0 END AS n_copies
        FROM documents
    )
    SELECT doc_id, source,
           CAST(unnest(range(n_copies)) AS BIGINT) AS copy_idx
    FROM planned WHERE n_copies >= 1
    """,
)
def sample_upsample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling WITH REPLICATION (round 6): the corpus-mixing
    step that text_mixture_sample (rate ≤ 1 per source) cannot do —
    low-resource sources get UPSAMPLED by emitting whole copies, the
    standard multi-epoch-per-domain recipe for training-data mixes.
    Each source's target weight w = (src_num % 3) + 0.5 spans the
    interesting cases: w = 0.5 downsamples, 1.5 keeps-plus-half,
    2.5 duplicates-plus-half.  floor(w) full copies always ship; the
    fractional half-copy is decided per document by the engine's
    standard md5 28-bit uniform (deterministic across engines,
    retries, partitionings — the sample_deterministic discipline), so
    the realized rate concentrates on w with zero coordination.

    copy_idx (0..n−1) rides along so downstream packing/shuffling can
    treat replicas as distinct rows (and so dedup stages can be TOLD
    these are intentional duplicates — drop copy_idx and dedup_exact
    would eat the upsample).

    Scale: narrow projection + bounded explode (≤ 3 rows out per row
    in); no shuffle at all — the mixture plan is a map, which is the
    whole reason hash-based mixing beats sort/sample pipelines at
    100 TB.  Plan-pinned: zero exchanges."""
    docs = load(spark, sf_dir, "documents")
    u = md5_int(F.col("doc_id").cast("string"), digits=7) / F.lit(268435456.0)
    n_copies = (
        F.substring("source", 4, 8).cast("bigint") % 3
        + F.when(u < 0.5, F.lit(1)).otherwise(F.lit(0))
    ).alias("n_copies")
    planned = docs.select("doc_id", "source", n_copies).filter(
        F.col("n_copies") >= 1
    )
    return planned.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(F.lit(0), (F.col("n_copies") - 1).cast("int"))
        ).alias("copy_idx0"),
    ).select(
        "doc_id", "source", F.col("copy_idx0").cast("bigint").alias("copy_idx")
    )


@query(
    "text_lang_id_trigram",
    """
    WITH tri AS (
        SELECT doc_id, lang,
               substr(lower(text), CAST(i AS INT), 3) AS tg
        FROM documents,
             LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i)
        WHERE length(text) >= 3
    ), lang_counts AS (
        SELECT lang, tg, CAST(COUNT(*) AS BIGINT) AS n
        FROM tri GROUP BY lang, tg
    ), profile AS (
        SELECT lang AS p_lang, tg FROM (
            SELECT lang, tg,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY n DESC, tg) AS rnk
            FROM lang_counts
        ) WHERE rnk <= 20
    ), doc_tris AS (
        SELECT DISTINCT doc_id, lang, tg FROM tri
    ), scores AS (
        SELECT d.doc_id, d.lang, p.p_lang,
               CAST(COUNT(*) AS BIGINT) AS score
        FROM doc_tris d JOIN profile p ON d.tg = p.tg
        GROUP BY d.doc_id, d.lang, p.p_lang
    )
    SELECT doc_id, lang, p_lang AS pred_lang, score FROM (
        SELECT doc_id, lang, p_lang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, p_lang) AS rnk
        FROM scores
    ) WHERE rnk = 1
    """,
)
def text_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language IDENTIFICATION by character-trigram profile (round 6)
    — the n-gram heuristic langid every corpus pipeline runs before
    mixing (the mandate's language-ID item as an actual CLASSIFIER,
    where text_lang_stats only profiles the already-given label).

    Train and classify in one plan, all exact integers: per-language
    trigram frequencies → each language's top-20 signature trigrams
    (count-desc, trigram tiebreak — deterministic), then each document
    scores every language by how many of its DISTINCT trigrams hit
    that language's signature; argmax with lexicographic tiebreak
    predicts.  On the synthetic word-soup corpus the languages share
    vocabulary, so accuracy is NOT the point (the pytest asserts the
    mechanics: scores bounded by 20, deterministic argmax, every doc
    classified) — the point is the SHAPE, which is cld3/fasttext's
    exact serving topology.

    Scale: the explode is the only corpus-sized stage (length×1 rows,
    same cost class as text_tokenize); language profiles are
    |langs|×20 rows — broadcast by construction — so classification
    is a broadcast join + partial agg + per-doc WindowGroupLimit
    argmax.  Training updates incrementally (trigram counts are
    mergeable)."""
    # Round-15 (guide §4.2): the trigram explode was an INTERPRETED
    # higher-order lambda — transform(sequence(1, len-2), substr) —
    # evaluated 1.5M times per consumer, and the plan consumed it
    # TWICE (occurrence counts + per-doc distinct sets): measured
    # 3.4-5.9 s for the explode alone at sf0.1. _tri_counts is the
    # Arrow replacement: one pass per consumer emits the per-doc
    # trigram COUNTER (doc_id, lang, tg, c) — already the
    # (doc_id, tg)-unique partial aggregate, so the corpus-sized
    # explode never materializes (≈½ the rows cross the boundary) and
    # the per-doc "distinct" is free. ASCII-identical lower()/slice
    # semantics (the fixture corpus is verified pure ASCII at every
    # SF; Python, Spark and DuckDB agree byte-for-byte there).
    # lang_counts = sum of per-doc counts ≡ the direct GROUP BY count;
    # doc_tris = the counter keys ≡ DISTINCT. Measured 5.9 → 2.6 s
    # isolated at sf0.1 (confusion 6.5 → 3.3 s).
    docs = load(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    docs = docs.select("doc_id", "lang", "text").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    def _tri_counts(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            ids: list = []
            langs: list = []
            tgs: list = []
            cs: list = []
            for did, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                t = text.lower()
                cnt = Counter(t[i : i + 3] for i in range(len(t) - 2))
                ids.extend([did] * len(cnt))
                langs.extend([lang] * len(cnt))
                tgs.extend(cnt.keys())
                cs.extend(cnt.values())
            yield pd.DataFrame(
                {"doc_id": ids, "lang": langs, "tg": tgs, "c": cs}
            )

    per_doc = docs.mapInPandas(
        _tri_counts, "doc_id long, lang string, tg string, c long"
    )
    lang_counts = per_doc.groupBy("lang", "tg").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    w_prof = Window.partitionBy("lang").orderBy(F.col("n").desc(), "tg")
    profile = (
        lang_counts.withColumn("rnk", F.row_number().over(w_prof))
        .filter(F.col("rnk") <= 20)
        .select(F.col("lang").alias("p_lang"), "tg")
    )
    doc_tris = per_doc.select("doc_id", "lang", "tg")
    scores = (
        doc_tris.join(F.broadcast(profile), "tg")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.count("*").cast("bigint").alias("score"))
    )
    w_arg = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "p_lang"
    )
    return (
        scores.withColumn("rnk", F.row_number().over(w_arg))
        .filter(F.col("rnk") == 1)
        .select("doc_id", "lang", F.col("p_lang").alias("pred_lang"), "score")
    )


# The linear quality model the text_model_* queries score documents
# with. _quality_logit() builds it in Spark; _LOGIT_SQL is the oracles'
# spelling, and _S_E6_SQL / _SCORED_SQL its floored e6 probability.
def _quality_logit() -> Column:
    f_len = F.col("n_chars").cast("double") / 1000
    f_words = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))))
        .cast("double")
        / 100
    )
    f_the = (
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("the")))
        ).cast("double")
        / (3 * F.greatest(F.col("n_chars").cast("double"), F.lit(1.0)))
        * 10
    )
    return -0.25 + 1.5 * f_len - 0.75 * f_words + 2.0 * f_the


_LOGIT_SQL = """-0.25
                   + 1.5 * (CAST(n_chars AS DOUBLE) / 1000)
                   - 0.75 * (CAST(length(text) - length(replace(text, ' ', ''))
                             AS DOUBLE) / 100)
                   + 2.0 * (CAST(length(text)
                                 - length(replace(text, 'the', ''))
                            AS DOUBLE)
                            / (3 * GREATEST(CAST(n_chars AS DOUBLE), 1.0))
                            * 10)"""
_S_E6_SQL = f"CAST(FLOOR(1000000.0 / (1.0 + exp(-({_LOGIT_SQL})))) AS BIGINT) AS s_e6"
_SCORED_SQL = f"""
        SELECT {_S_E6_SQL},
               CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
        FROM documents
"""


@query(
    "text_score_linear_model",
    """
    WITH feats AS (
        SELECT doc_id,
               CAST(n_chars AS DOUBLE) / 1000 AS f_len,
               CAST(length(text) - length(replace(text, ' ', ''))
                    AS DOUBLE) / 100 AS f_words,
               CAST(length(text) - length(replace(text, 'the', ''))
                    AS DOUBLE)
                   / (3 * GREATEST(CAST(n_chars AS DOUBLE), 1.0)) * 10
                   AS f_the
        FROM documents
    )
    SELECT doc_id,
           CAST(FLOOR((-0.25 + 1.5 * f_len - 0.75 * f_words + 2.0 * f_the)
                      * 1000000) AS BIGINT) AS logit_e6,
           CAST(FLOOR(1.0 / (1.0 + exp(-(-0.25 + 1.5 * f_len
                                         - 0.75 * f_words + 2.0 * f_the)))
                      * 1000000) AS BIGINT) AS prob_e6,
           (1.0 / (1.0 + exp(-(-0.25 + 1.5 * f_len - 0.75 * f_words
                               + 2.0 * f_the)))) > 0.5 AS keep
    FROM feats
    """,
)
def text_score_linear_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier SCORING (round 6): apply a trained
    logistic model (weights frozen as literals here — in production
    they arrive as a broadcast row from the training job) over cheap
    text features, emit logit, calibrated probability, and the 0.5
    keep decision — the model-apply stage every learned quality
    filter (fastText-style, DSIR-refined, ...) runs at corpus scale,
    and the missing rung between text_gopher_rules (hand rules) and
    an external ML stack.

    Features are deliberately relational (length, space-count words,
    'the'-density) so the WHOLE pipeline — features, dot product,
    sigmoid — is one narrow JVM expression chain per row: no UDF, no
    Python, fully codegen'd, trivially pushed behind any upstream
    filter.  Parity: every feature and the sigmoid are single double
    chains in the oracle's literal order; the keep flag compares the
    probability directly (identical branching both engines).

    Scale: a pure map — zero shuffle; scoring cost is the scan. The
    model-update path swaps literals for a 1-row broadcast join
    (events_error_budget_burn's baseline shape), nothing else
    changes."""
    d = load(spark, sf_dir, "documents")
    logit = _quality_logit()
    prob = 1.0 / (1.0 + F.exp(-logit))
    return d.select(
        "doc_id",
        F.floor(logit * 1000000).cast("bigint").alias("logit_e6"),
        F.floor(prob * 1000000).cast("bigint").alias("prob_e6"),
        (prob > 0.5).alias("keep"),
    )


@query(
    "text_rare_token_mask",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), df AS (
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE d.df < 3) AS BIGINT) AS n_masked,
           CAST(FLOOR(COUNT(*) FILTER (WHERE d.df < 3) * 1000000.0
                      / COUNT(*)) AS BIGINT) AS masked_ratio_e6
    FROM toks t JOIN df d ON d.tok = t.tok
    GROUP BY t.doc_id
    """,
)
def text_rare_token_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RARE-token masking audit (round 6) — the privacy transform
    text_pii_scrub's pattern rules can't do: a token appearing in
    fewer than k=3 documents is a QUASI-identifier (a name, an ID, a
    one-off typo fingerprint) regardless of its shape, and privacy-
    hardened corpus releases mask exactly these (the k-anonymity idea
    applied to vocabulary — anon_k_suppress's discipline at the token
    level).  Emits per-document token counts, how many would be
    masked, and the masked fraction — the audit that decides whether
    masking is survivable before anyone rewrites text.

    Document frequency uses COUNT(DISTINCT doc) (a token repeated
    inside one doc is still rare corpus-wide); per-doc masking counts
    multiplicity (every occurrence would be replaced).  All exact
    bigints, one floored division.

    Scale: token explode (the text_tokenize cost class), a vocab-sized
    df table that BROADCASTS back onto the token stream, one doc_id
    rollup.  The actual rewrite is the same join feeding a transform —
    zero extra shuffles."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    df = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    joined = toks.join(F.broadcast(df), "tok")
    n_masked = F.count(F.when(F.col("df") < 3, 1))
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        n_masked.cast("bigint").alias("n_masked"),
        F.floor(n_masked * 1000000.0 / F.count("*"))
        .cast("bigint")
        .alias("masked_ratio_e6"),
    )


@query(
    "text_vocab_overlap_sources",
    """
    WITH pres AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), vocab AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM pres GROUP BY source
    ), inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM pres a JOIN pres b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, i.n_common,
           CAST(FLOOR(i.n_common * 10000.0
                      / (va.v + vb.v - i.n_common)) AS BIGINT)
               AS vocab_jaccard_e4
    FROM inter i
    JOIN vocab va ON va.source = i.src_a
    JOIN vocab vb ON vb.source = i.src_b
    """,
)
def text_vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise VOCABULARY overlap between ingest sources (round 6) —
    the domain-similarity matrix mixture design needs BEFORE choosing
    weights (sample_upsample_mixture / text_mixture_sample): two
    sources with Jaccard-similar vocabularies are redundant (upsample
    one, not both); a low-overlap source brings coverage.  The same
    measurement drives dedup-scope decisions (cross-source exact dedup
    only pays where vocabularies overlap).

    The pair generation is token-keyed (graph_common_neighbors' Σd²
    discipline — pairs only within a shared token, never sources²),
    and d ≤ |sources| per token, so the join is bounded by vocab ×
    sources².  Exact bigint intersection + per-source vocab counts;
    Jaccard enters double once, floored e4.

    Scale: presence distinct is the corpus shuffle; everything after
    runs on vocab-sized tables."""
    d = load(spark, sf_dir, "documents")
    pres = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    vocab = pres.groupBy("source").agg(
        F.count("*").cast("bigint").alias("v")
    )
    a = pres.alias("a")
    b = pres.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    va = vocab.select(F.col("source").alias("src_a"), F.col("v").alias("va"))
    vb = vocab.select(F.col("source").alias("src_b"), F.col("v").alias("vb"))
    joined = inter.join(F.broadcast(va), "src_a").join(
        F.broadcast(vb), "src_b"
    )
    return joined.select(
        "src_a",
        "src_b",
        "n_common",
        F.floor(
            F.col("n_common")
            * 10000.0
            / (F.col("va") + F.col("vb") - F.col("n_common"))
        )
        .cast("bigint")
        .alias("vocab_jaccard_e4"),
    )


@query(
    "text_model_calibration_ece",
    f"""
    WITH scored AS (
        SELECT doc_id,
               1.0 / (1.0 + exp(-({_LOGIT_SQL}))) AS prob,
               CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
        FROM documents
    ), binned AS (
        SELECT LEAST(CAST(FLOOR(prob * 10) AS BIGINT), 9) AS bin,
               CAST(FLOOR(prob * 1000000) AS BIGINT) AS p_e6,
               label
        FROM scored
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p_e6) AS BIGINT) AS sum_p_e6,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST(FLOOR(ABS(CAST(SUM(p_e6) AS DOUBLE) / COUNT(*)
                    - CAST(SUM(label) AS DOUBLE) / COUNT(*) * 1000000))
                AS BIGINT) AS gap_e6
    FROM binned GROUP BY bin
    """,
)
def text_model_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier CALIBRATION table (round 6) — the third leg of the
    model-eval triad (embed_retrieval_ndcg ranks, embed_silhouette
    clusters, this calibrates): text_score_linear_model's probabilities
    bucketed into 10 confidence bins, each bin reporting predicted
    confidence vs realized positive rate; the per-bin |gap| is the
    expected-calibration-error decomposition, and a model whose 0.9
    bin wins only 60% of the time gets recalibrated before its scores
    gate a corpus.

    Parity: the sigmoid chain is text_score_linear_model's verbatim;
    probabilities floor ONCE to e6 and bin by floor(p·10) (LEAST
    guards the p=1.0 edge into bin 9), after which every bin statistic
    is an exact bigint sum — the |gap| is one double chain over exact
    sums, truncated to e6.

    Scale: pure map + a 10-row aggregate; recalibration (Platt /
    isotonic) consumes exactly this table."""
    d = load(spark, sf_dir, "documents")
    prob = 1.0 / (1.0 + F.exp(-_quality_logit()))
    label = F.when(F.col("n_chars") >= 200, 1).otherwise(0)
    binned = d.select(
        F.least(F.floor(prob * 10).cast("bigint"), F.lit(9).cast("bigint")).alias("bin"),
        F.floor(prob * 1000000).cast("bigint").alias("p_e6"),
        label.alias("label"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("p_e6").cast("bigint").alias("sum_p_e6"),
        F.sum("label").cast("bigint").alias("n_pos"),
        F.floor(
            F.abs(
                F.sum("p_e6").cast("double") / F.count("*")
                - F.sum("label").cast("double") / F.count("*") * 1000000
            )
        )
        .cast("bigint")
        .alias("gap_e6"),
    )


@query(
    "text_model_auc",
    f"""
    WITH scored AS (
        SELECT doc_id, {_S_E6_SQL},
               CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
        FROM documents
    ), ranked AS (
        SELECT label,
               2 * RANK() OVER (ORDER BY s_e6)
               + COUNT(*) OVER (PARTITION BY s_e6) - 1 AS rank2
        FROM scored
    ), agg AS (
        SELECT CAST(SUM(CASE WHEN label = 1 THEN rank2 END) AS BIGINT)
                   AS r1_2,
               CAST(COUNT(*) FILTER (label = 1) AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (label = 0) AS BIGINT) AS n0
        FROM ranked
    )
    SELECT n1, n0,
           CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u2,
           CAST(FLOOR(CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE)
                      / (2.0 * n1 * n0) * 1000000) AS BIGINT) AS auc_e6
    FROM agg
    """,
)
def text_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the quality classifier via HISTOGRAM-AUC —
    the DISCRIMINATION leg of the model-eval family (nDCG: ranking
    order, ECE: calibration, AUC: can the score separate classes at
    all): AUC = P(score⁺ > score⁻) + ½P(tie), the Mann–Whitney
    identity over tie-corrected rank sums.

    Scale design (VERDICT r6 item 2): per-document rows reduce FIRST
    to (s_e6 → n_b, n1_b) score buckets — a keyed groupBy, partial
    map-side combine, never a global sort of the corpus.  Because
    scores floor to e6 BEFORE bucketing, the bucket table is exact
    (not an approximation) and ≤1e6 rows REGARDLESS of corpus size,
    so the one remaining ordered pass — the cumulative count that
    assigns each bucket its doubled average rank 2·prev + n_b + 1 —
    runs over pre-reduced, hard-bounded input.  The integer trick is
    unchanged from the rank form (kept as the pytest referee,
    ``_text_model_auc_rank_referee``): doubled midpoint rank
    2·prev + n_b + 1 is integral, so R₁·2, U₂ = 2U and n₁n₀ are all
    exact bigints; ONE double division produces auc_e6."""
    scored = _auc_scored(spark, sf_dir)
    buckets = scored.groupBy("s_e6").agg(
        F.count("*").cast("bigint").alias("n_b"),
        F.sum("label").cast("bigint").alias("n1_b"),
    )
    w_prev = Window.orderBy("s_e6").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = buckets.select(
        "n_b",
        "n1_b",
        F.coalesce(F.sum("n_b").over(w_prev), F.lit(0))
        .cast("bigint")
        .alias("prev"),
    )
    agg = r.agg(
        F.sum(
            F.col("n1_b") * (2 * F.col("prev") + F.col("n_b") + 1)
        )
        .cast("bigint")
        .alias("r1_2"),
        F.sum("n1_b").cast("bigint").alias("n1"),
        F.sum(F.col("n_b") - F.col("n1_b")).cast("bigint").alias("n0"),
    )
    u2 = F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)
    return agg.select(
        "n1",
        "n0",
        u2.cast("bigint").alias("u2"),
        F.floor(
            u2.cast("double") / (2.0 * F.col("n1") * F.col("n0")) * 1000000
        )
        .cast("bigint")
        .alias("auc_e6"),
    )


def _auc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_e6, label) per document — shared by the registered
    histogram-AUC plan and the rank-form referee."""
    d = load(spark, sf_dir, "documents")
    prob = 1000000.0 / (1.0 + F.exp(-_quality_logit()))
    return d.select(
        F.floor(prob).cast("bigint").alias("s_e6"),
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("label"),
    )


def _text_model_auc_rank_referee(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNREGISTERED referee: the round-6 global-rank AUC (doubled
    average rank = 2·RANK() + ties − 1 over per-document rows).
    Exact but serializes the corpus onto one task — demoted from the
    registered plan per VERDICT r6 item 2; tests assert it matches
    the histogram form bit-for-bit."""
    scored = _auc_scored(spark, sf_dir)
    w_rank = Window.orderBy("s_e6")
    w_tie = Window.partitionBy("s_e6")
    ranked = scored.select(
        "label",
        (
            2 * F.rank().over(w_rank) + F.count("*").over(w_tie) - 1
        ).alias("rank2"),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("label") == 1, F.col("rank2")))
        .cast("bigint")
        .alias("r1_2"),
        F.count(F.when(F.col("label") == 1, 1)).cast("bigint").alias("n1"),
        F.count(F.when(F.col("label") == 0, 1)).cast("bigint").alias("n0"),
    )
    u2 = F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)
    return agg.select(
        "n1",
        "n0",
        u2.cast("bigint").alias("u2"),
        F.floor(
            u2.cast("double") / (2.0 * F.col("n1") * F.col("n0")) * 1000000
        )
        .cast("bigint")
        .alias("auc_e6"),
    )


@query(
    "text_readability_fk",
    """
    WITH f AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
                    AS BIGINT) AS words,
               CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS syllables
        FROM documents
    )
    SELECT doc_id, words, sentences, syllables,
           CASE WHEN words > 0 THEN
               CAST(FLOOR((0.39 * (CAST(words AS DOUBLE) / sentences)
                           + 11.8 * (CAST(syllables AS DOUBLE) / words)
                           - 15.59) * 10000) AS BIGINT)
           ELSE NULL END AS fk_grade_e4
    FROM f
    """,
)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch–Kincaid grade-level readability per document (round 7)
    — the classic quality-scoring leg the Gopher/C4 rule sets
    (text_gopher_rules) sit next to: words per sentence × syllables
    per word, mapped to a US school grade.  Corpus curation uses it
    to filter both unreadable fragments AND machine-generated
    word-salad that passes length filters.

    The proxy features are deliberately rule-exact, not linguistic:
    words = letter runs, sentences = [.!?] runs (min 1), syllables =
    vowel-group runs — each a single regexp count that both engines
    evaluate identically (the standard syllable approximation).  The
    FK formula is ONE double chain in the oracle's literal order,
    floored to e4; zero-word docs emit NULL.

    Scale: embarrassingly parallel single scan — three regexp counts
    per document, no shuffle at all."""
    d = load(spark, sf_dir, "documents")
    words = F.regexp_count(F.col("text"), F.lit("[A-Za-z]+")).cast("bigint")
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
    ).cast("bigint")
    syllables = F.regexp_count(
        F.lower(F.col("text")), F.lit("[aeiouy]+")
    ).cast("bigint")
    f = d.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    fk = (
        0.39 * (F.col("words").cast("double") / F.col("sentences"))
        + 11.8 * (F.col("syllables").cast("double") / F.col("words"))
        - 15.59
    )
    return f.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.when(
            F.col("words") > 0, F.floor(fk * 10000).cast("bigint")
        ).alias("fk_grade_e4"),
    )


@query(
    "text_type_token_ratio",
    """
    WITH toks AS (
        SELECT source, unnest(regexp_extract_all(lower(text),
                                                 '[a-z0-9]+')) AS tok
        FROM documents
    ), tok_counts AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) FILTER (c = 1) AS BIGINT) AS n_hapax,
           CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) / SUM(c) * 1000000)
                AS BIGINT) AS ttr_e6,
           CAST(FLOOR(CAST(COUNT(*) FILTER (c = 1) AS DOUBLE)
                      / COUNT(*) * 1000000) AS BIGINT) AS hapax_e6
    FROM tok_counts GROUP BY source
    """,
)
def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio and hapax share per source (round 7) — the
    lexical-diversity pair: TTR = distinct types / total tokens
    (template spam and boilerplate crater it), hapax share = fraction
    of types seen exactly once (OCR noise and random strings inflate
    it).  text_heaps_law fits the growth CURVE; this is the per-source
    point diagnostic that corpus mixers threshold on.

    Exactness: one tokenizer expression (lowercase [a-z0-9] runs)
    identical in both engines; counts exact bigints; two floored
    divisions.

    Scale: explode → (source, token)-keyed count (the partial-agg
    shuffle text_tfidf already pays) → per-source rollup; no windows,
    no single-partition stage over raw tokens."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
            )
        ).alias("tok"),
    )
    tc = toks.groupBy("source", "tok").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.count(F.when(F.col("c") == 1, 1)).cast("bigint").alias("n_hapax"),
        F.floor(F.count("*").cast("double") / F.sum("c") * 1000000)
        .cast("bigint")
        .alias("ttr_e6"),
        F.floor(
            F.count(F.when(F.col("c") == 1, 1)).cast("double")
            / F.count("*")
            * 1000000
        )
        .cast("bigint")
        .alias("hapax_e6"),
    )


@query(
    "corpus_quality_report",
    """
    WITH fk AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_short,
               CAST(SUM(CAST(FLOOR(
                   (0.39 * (CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+')) AS DOUBLE)
                            / GREATEST(len(regexp_extract_all(text,
                                  '[.!?]+')), 1))
                    + 11.8 * (CAST(len(regexp_extract_all(lower(text),
                          '[aeiouy]+')) AS DOUBLE)
                              / GREATEST(len(regexp_extract_all(text,
                                    '[A-Za-z]+')), 1))
                    - 15.59) * 10000) AS BIGINT)) AS BIGINT) AS fk_sum
        FROM documents GROUP BY source
    ), toks AS (
        SELECT source, unnest(regexp_extract_all(lower(text),
                                                 '[a-z0-9]+')) AS tok
        FROM documents
    ), tc AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY source, tok
    ), lex AS (
        SELECT source,
               CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) / SUM(c) * 1000000)
                    AS BIGINT) AS ttr_e6,
               CAST(FLOOR(CAST(COUNT(*) FILTER (c = 1) AS DOUBLE)
                          / COUNT(*) * 1000000) AS BIGINT) AS hapax_e6
        FROM tc GROUP BY source
    )
    SELECT f.source, f.n_docs,
           CAST(FLOOR(CAST(f.fk_sum AS DOUBLE) / f.n_docs) AS BIGINT)
               AS mean_fk_e4,
           CAST(FLOOR(CAST(f.n_short AS DOUBLE) / f.n_docs * 1000000)
                AS BIGINT) AS short_share_e6,
           l.ttr_e6, l.hapax_e6
    FROM fk f JOIN lex l ON l.source = f.source
    """,
)
def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus QUALITY REPORT (round 7) — the composed
    dashboard a corpus curator reads before setting mixture weights:
    readability (mean Flesch–Kincaid, text_readability_fk's feature
    set with a zero-word guard folded into the per-doc floor),
    short-document share (the n_chars gate), and lexical diversity
    (TTR + hapax share, text_type_token_ratio's program) — ONE
    composed Catalyst plan per source, with the oracle composing the
    same three stages, so drift in ANY stage hash-mismatches at the
    end (the ingest_entity_summary / embedding_pipeline
    stage-composition discipline on the text-quality side).

    Per-doc FK values floor ONCE to e4 bigints before the source sum
    (exact thereafter); each share is one floored division.

    Scale: a doc-parallel regexp scan + the token-keyed TTR
    aggregation, joined on the dimension-tiny source key."""
    d = load(spark, sf_dir, "documents")
    words = F.regexp_count(F.col("text"), F.lit("[A-Za-z]+")).cast("bigint")
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
    ).cast("bigint")
    syllables = F.regexp_count(
        F.lower(F.col("text")), F.lit("[aeiouy]+")
    ).cast("bigint")
    fk_doc = F.floor(
        (
            0.39 * (words.cast("double") / sentences)
            + 11.8
            * (
                syllables.cast("double")
                / F.greatest(words, F.lit(1)).cast("bigint")
            )
            - 15.59
        )
        * 10000
    ).cast("bigint")
    fk = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0))
        .cast("bigint")
        .alias("n_short"),
        F.sum(fk_doc).cast("bigint").alias("fk_sum"),
    )
    toks = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
            )
        ).alias("tok"),
    )
    tc = toks.groupBy("source", "tok").agg(
        F.count("*").cast("bigint").alias("c")
    )
    lex = tc.groupBy("source").agg(
        F.floor(F.count("*").cast("double") / F.sum("c") * 1000000)
        .cast("bigint")
        .alias("ttr_e6"),
        F.floor(
            F.count(F.when(F.col("c") == 1, 1)).cast("double")
            / F.count("*")
            * 1000000
        )
        .cast("bigint")
        .alias("hapax_e6"),
    )
    return fk.join(lex, "source").select(
        "source",
        "n_docs",
        F.floor(F.col("fk_sum").cast("double") / F.col("n_docs"))
        .cast("bigint")
        .alias("mean_fk_e4"),
        F.floor(
            F.col("n_short").cast("double") / F.col("n_docs") * 1000000
        )
        .cast("bigint")
        .alias("short_share_e6"),
        "ttr_e6",
        "hapax_e6",
    )


@query(
    "text_lang_confusion",
    """
    WITH tri AS (
        SELECT doc_id, lang,
               substr(lower(text), CAST(i AS INT), 3) AS tg
        FROM documents,
             LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i)
        WHERE length(text) >= 3
    ), lang_counts AS (
        SELECT lang, tg, CAST(COUNT(*) AS BIGINT) AS n
        FROM tri GROUP BY lang, tg
    ), profile AS (
        SELECT lang AS p_lang, tg FROM (
            SELECT lang, tg,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY n DESC, tg) AS rnk
            FROM lang_counts
        ) WHERE rnk <= 20
    ), doc_tris AS (
        SELECT DISTINCT doc_id, lang, tg FROM tri
    ), scores AS (
        SELECT d.doc_id, d.lang, p.p_lang,
               CAST(COUNT(*) AS BIGINT) AS score
        FROM doc_tris d JOIN profile p ON d.tg = p.tg
        GROUP BY d.doc_id, d.lang, p.p_lang
    ), pred AS (
        SELECT doc_id, lang, p_lang AS pred_lang FROM (
            SELECT doc_id, lang, p_lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, p_lang) AS rnk
            FROM scores
        ) WHERE rnk = 1
    ), cells AS (
        SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY lang, pred_lang
    ), tot AS (
        SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true
        FROM cells GROUP BY lang
    )
    SELECT c.lang, c.pred_lang, c.n, t.n_true,
           CAST(FLOOR(CAST(c.n AS DOUBLE) / t.n_true * 1000000)
                AS BIGINT) AS row_share_e6
    FROM cells c JOIN tot t ON t.lang = c.lang
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX of the trigram language classifier (round 7)
    — closes the classifier-eval loop text_lang_id_trigram opened:
    per (true, predicted) cell counts with per-true-language row
    shares (the diagonal is recall).  Reads as 'where does the langid
    stage send mislabeled documents', which decides whether a
    low-resource language's corpus slice is trustworthy before
    mixture weighting.

    Composes the EXACT same train+classify program as the classifier
    (same top-20 signatures, same argmax tiebreaks), so the oracle's
    composition re-verifies that plan end-to-end, then adds a keyed
    rollup — the stage-composition discipline.

    Scale: the classifier's cost profile unchanged; the confusion
    rollup is |langs|² cells."""
    pred = text_lang_id_trigram(spark, sf_dir).select("lang", "pred_lang")
    cells = pred.groupBy("lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = cells.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_true")
    )
    return cells.join(F.broadcast(tot), "lang").select(
        "lang",
        "pred_lang",
        "n",
        "n_true",
        F.floor(F.col("n").cast("double") / F.col("n_true") * 1000000)
        .cast("bigint")
        .alias("row_share_e6"),
    )


@query(
    "text_code_detect",
    """
    WITH f AS (
        SELECT doc_id,
               CAST(GREATEST(length(text), 1) AS BIGINT) AS n,
               CAST(len(regexp_extract_all(text, '[{{}}()\\[\\];=<>]'))
                    AS BIGINT) AS n_sym,
               CAST(len(regexp_extract_all(text, '\\n[ \\t]+'))
                    AS BIGINT) AS n_indent,
               CAST(len(regexp_extract_all(text,
                    '(def |function |class |import |return |void |int )'))
                    AS BIGINT) AS n_kw
        FROM documents
    )
    SELECT doc_id, n_sym, n_indent, n_kw,
           CAST(FLOOR(CAST(n_sym AS DOUBLE) / n * 1000000) AS BIGINT)
               AS sym_density_e6,
           (CAST(n_sym AS DOUBLE) / n > 0.03 AND n_kw >= 2)
               OR n_indent >= 5 AS looks_like_code
    FROM f
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-prose detection heuristic (round 7) — the corpus-mixing
    gate between text_gopher_rules (prose quality) and
    text_lang_id_trigram (natural language): code has its own mixture
    weight in every modern pretraining recipe, and misrouted code
    inflates prose perplexity while misrouted prose pollutes code
    fine-tunes.  Features: structural-symbol density ({}();=<>),
    indented-line count, and a keyword hit count; the flag combines
    them with fixed thresholds.

    Rule-exact regexp counts identical in both engines (no tokenizer,
    no model); one floored density division.  On the synthetic prose
    corpus the flag is mostly false — the pytest plants a code
    document and asserts it flags.

    Scale: embarrassingly parallel single scan."""
    d = load(spark, sf_dir, "documents")
    n = F.greatest(F.length("text"), F.lit(1)).cast("bigint")
    n_sym = F.regexp_count(
        F.col("text"), F.lit(r"[{}()\[\];=<>]")
    ).cast("bigint")
    n_indent = F.regexp_count(
        F.col("text"), F.lit("\n[ \t]+")
    ).cast("bigint")
    n_kw = F.regexp_count(
        F.col("text"),
        F.lit("(def |function |class |import |return |void |int )"),
    ).cast("bigint")
    f = d.select(
        "doc_id",
        n.alias("n"),
        n_sym.alias("n_sym"),
        n_indent.alias("n_indent"),
        n_kw.alias("n_kw"),
    )
    density = F.col("n_sym").cast("double") / F.col("n")
    return f.select(
        "doc_id",
        "n_sym",
        "n_indent",
        "n_kw",
        F.floor(density * 1000000).cast("bigint").alias("sym_density_e6"),
        (
            ((density > 0.03) & (F.col("n_kw") >= 2))
            | (F.col("n_indent") >= 5)
        ).alias("looks_like_code"),
    )


@query(
    "text_source_cross_entropy",
    """
    WITH toks AS (
        SELECT source, unnest(str_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT token, COUNT(*) AS c FROM toks GROUP BY token
    ), total AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS n FROM counts
    ), probs AS (
        SELECT token,
               CAST(FLOOR(-ln(CAST(c AS DOUBLE) / (SELECT n FROM total))
                          * 1000000) AS BIGINT) AS nll_e6
        FROM counts
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(FLOOR(CAST(SUM(p.nll_e6) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS cross_entropy_e6
    FROM toks t JOIN probs p USING (token)
    GROUP BY t.source
    """,
)
def text_source_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cross-entropy under the CORPUS unigram LM (round 7)
    — the mixture diagnostic text_unigram_logprob scores per
    document, read at the grain mixture weights are set: a source
    whose tokens are typical of the whole corpus scores near the
    corpus entropy; a source full of corpus-rare vocabulary scores
    high (specialist or noisy — the DSIR question, answered with the
    engine's own LM instead of importance weights).

    Same determinism discipline as the per-doc op: each vocab
    entry's −ln p floors ONCE to e6, then everything per source is
    exact bigint arithmetic — no order-dependent float sums.

    Scale: token counts partial-aggregate on token; the vocab table
    broadcasts; the rollup shuffles |sources| keys."""
    toks = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").cast("double").alias("n"))
    probs = counts.crossJoin(F.broadcast(total)).select(
        "token",
        F.floor(-F.log(F.col("c").cast("double") / F.col("n")) * 1000000)
        .cast("bigint")
        .alias("nll_e6"),
    )
    return (
        toks.join(F.broadcast(probs), "token")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.floor(F.sum("nll_e6").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("cross_entropy_e6"),
        )
    )


@query(
    "train_decision_stump",
    """
    WITH base AS (
        SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('click', 'purchase')
    ), atoms AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(y) AS BIGINT) AS c1
        FROM base GROUP BY v
    ), pre AS (
        SELECT v,
               CAST(SUM(c) OVER w AS BIGINT) AS nl,
               CAST(SUM(c1) OVER w AS BIGINT) AS c1l,
               CAST(SUM(c) OVER () AS BIGINT) AS n,
               CAST(SUM(c1) OVER () AS BIGINT) AS c1t
        FROM atoms
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
    ), scored AS (
        SELECT v, nl, c1l, n, c1t,
               CAST(FLOOR((
                   nl * (1.0 - (CAST(c1l AS DOUBLE) / nl)
                               * (CAST(c1l AS DOUBLE) / nl)
                             - (CAST(nl - c1l AS DOUBLE) / nl)
                               * (CAST(nl - c1l AS DOUBLE) / nl))
                   + (n - nl) * (1.0
                       - (CAST(c1t - c1l AS DOUBLE) / (n - nl))
                         * (CAST(c1t - c1l AS DOUBLE) / (n - nl))
                       - (CAST((n - nl) - (c1t - c1l) AS DOUBLE)
                          / (n - nl))
                         * (CAST((n - nl) - (c1t - c1l) AS DOUBLE)
                            / (n - nl)))
               ) / n * 1000000000) AS BIGINT) AS impurity_e9
        FROM pre WHERE nl < n
    )
    SELECT v AS split_v_e4, impurity_e9,
           nl AS n_left, c1l AS c1_left,
           CAST(n - nl AS BIGINT) AS n_right,
           CAST(c1t - c1l AS BIGINT) AS c1_right,
           CAST(FLOOR(CAST(GREATEST(c1l, nl - c1l)
                           + GREATEST(c1t - c1l, (n - nl) - (c1t - c1l))
                      AS DOUBLE) / n * 1000000) AS BIGINT)
               AS train_accuracy_e6
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY impurity_e9, v) AS rnk
        FROM scored
    ) WHERE rnk = 1
    """,
)
def train_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a DECISION STUMP distributed (round 7) — the simplest
    real model-training loop expressed as one Catalyst plan: find the
    value threshold minimizing weighted Gini impurity for separating
    purchases from clicks.  Every candidate split's class counts come
    from ONE prefix pass over the value-atom table (the bucket-rank
    discipline applied to TRAINING: candidate splits = distinct
    values, left-side counts = prefix sums — no per-split scan, no
    driver loop), so the full stump train is two aggregations and a
    bounded ordered pass regardless of row count.  The pattern
    gradient-boosted tree libraries run per feature per node,
    demonstrated exactly.

    Determinism: impurity floors ONCE per atom to e9; argmin
    tie-breaks by the split value; majority-vote training accuracy
    is pure integer arithmetic over the winning row.

    Scale: atom table bounded by the value domain; the single
    ordered pass is audit-benign (pre-reduced input)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    base = ev.select(
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    atoms = base.groupBy("v").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("c1"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    pre = atoms.select(
        "v",
        F.sum("c").over(w).cast("bigint").alias("nl"),
        F.sum("c1").over(w).cast("bigint").alias("c1l"),
        F.sum("c").over(wall).cast("bigint").alias("n"),
        F.sum("c1").over(wall).cast("bigint").alias("c1t"),
    ).filter(F.col("nl") < F.col("n"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nl, n = F.col("nl"), F.col("n")
    c1l, c1t = F.col("c1l"), F.col("c1t")
    nr = n - nl
    c1r = c1t - c1l
    p1l = d("c1l") / nl
    p0l = (nl - c1l).cast("double") / nl
    p1r = c1r.cast("double") / nr
    p0r = (nr - c1r).cast("double") / nr
    weighted = (
        nl * (1.0 - p1l * p1l - p0l * p0l)
        + nr * (1.0 - p1r * p1r - p0r * p0r)
    )
    scored = pre.select(
        "v",
        "nl",
        "c1l",
        "n",
        "c1t",
        F.floor(weighted / n * 1000000000).cast("bigint").alias(
            "impurity_e9"
        ),
    )
    w_arg = Window.orderBy("impurity_e9", "v")
    best = scored.withColumn("rnk", F.row_number().over(w_arg)).filter(
        F.col("rnk") == 1
    )
    acc = F.floor(
        (
            F.greatest(F.col("c1l"), F.col("nl") - F.col("c1l"))
            + F.greatest(
                F.col("c1t") - F.col("c1l"),
                (F.col("n") - F.col("nl")) - (F.col("c1t") - F.col("c1l")),
            )
        ).cast("double")
        / F.col("n")
        * 1000000
    ).cast("bigint")
    return best.select(
        F.col("v").alias("split_v_e4"),
        "impurity_e9",
        F.col("nl").alias("n_left"),
        F.col("c1l").alias("c1_left"),
        (F.col("n") - F.col("nl")).cast("bigint").alias("n_right"),
        (F.col("c1t") - F.col("c1l")).cast("bigint").alias("c1_right"),
        acc.alias("train_accuracy_e6"),
    )


@query(
    "corpus_source_ranking",
    """
    WITH fk AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_short
        FROM documents GROUP BY source
    ), toks AS (
        SELECT source, unnest(regexp_extract_all(lower(text),
                                                 '[a-z0-9]+')) AS tok
        FROM documents
    ), tc AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY source, tok
    ), lex AS (
        SELECT source,
               CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) / SUM(c) * 1000000)
                    AS BIGINT) AS ttr_e6
        FROM tc GROUP BY source
    ), counts AS (
        SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM tc GROUP BY tok
    ), total AS (
        SELECT CAST(SUM(ct) AS DOUBLE) AS n FROM counts
    ), probs AS (
        SELECT tok,
               CAST(FLOOR(-ln(CAST(ct AS DOUBLE) / (SELECT n FROM total))
                          * 1000000) AS BIGINT) AS nll_e6
        FROM counts
    ), xent AS (
        SELECT t.source,
               CAST(FLOOR(CAST(SUM(t.c * p.nll_e6) AS DOUBLE) / SUM(t.c))
                    AS BIGINT) AS ce_e6
        FROM tc t JOIN probs p USING (tok) GROUP BY t.source
    ), metrics AS (
        SELECT f.source, f.n_docs,
               CAST(FLOOR(CAST(f.n_short AS DOUBLE) / f.n_docs * 1000000)
                    AS BIGINT) AS short_share_e6,
               l.ttr_e6, x.ce_e6
        FROM fk f
        JOIN lex l ON l.source = f.source
        JOIN xent x ON x.source = f.source
    )
    SELECT source, n_docs, short_share_e6, ttr_e6, ce_e6,
           CAST(ROW_NUMBER() OVER (ORDER BY short_share_e6, source)
              + ROW_NUMBER() OVER (ORDER BY ttr_e6 DESC, source)
              + ROW_NUMBER() OVER (ORDER BY ce_e6, source) AS BIGINT)
               AS borda_score
    FROM metrics
    """,
)
def corpus_source_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda rank aggregation of the quality dimensions per source
    (round 7) — the DECISION artifact the quality dashboard feeds:
    each source is ranked by short-document share (fewer is better),
    lexical diversity (higher is better), and corpus-LM cross-entropy
    (lower = more typical), and the Borda sum combines the three
    WITHOUT commensurating their units — the standard trick when
    metrics live on incomparable scales, and entirely INTEGER (no
    weight normalization float chain).  Lower Borda = mix-first.

    Composes three round-7 programs (short share, TTR,
    source cross-entropy) in one Catalyst plan with a
    fully-composed oracle; ranks tie-break on the source id.

    Scale: the token-keyed aggregations dominate (text_tfidf cost
    class); the ranking windows run over |sources| rows."""
    d = load(spark, sf_dir, "documents")
    fk = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0))
        .cast("bigint")
        .alias("n_short"),
    )
    tc = (
        d.select(
            "source",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
                )
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    lex = tc.groupBy("source").agg(
        F.floor(F.count("*").cast("double") / F.sum("c") * 1000000)
        .cast("bigint")
        .alias("ttr_e6")
    )
    counts = tc.groupBy("tok").agg(F.sum("c").cast("bigint").alias("ct"))
    total = counts.agg(F.sum("ct").cast("double").alias("n"))
    probs = counts.crossJoin(F.broadcast(total)).select(
        "tok",
        F.floor(-F.log(F.col("ct").cast("double") / F.col("n")) * 1000000)
        .cast("bigint")
        .alias("nll_e6"),
    )
    xent = (
        tc.join(F.broadcast(probs), "tok")
        .groupBy("source")
        .agg(
            F.floor(
                F.sum(F.col("c") * F.col("nll_e6")).cast("double")
                / F.sum("c")
            )
            .cast("bigint")
            .alias("ce_e6")
        )
    )
    metrics = (
        fk.join(lex, "source")
        .join(xent, "source")
        .select(
            "source",
            "n_docs",
            F.floor(
                F.col("n_short").cast("double") / F.col("n_docs") * 1000000
            )
            .cast("bigint")
            .alias("short_share_e6"),
            "ttr_e6",
            "ce_e6",
        )
    )
    r1 = Window.orderBy("short_share_e6", "source")
    r2 = Window.orderBy(F.col("ttr_e6").desc(), "source")
    r3 = Window.orderBy("ce_e6", "source")
    return metrics.select(
        "source",
        "n_docs",
        "short_share_e6",
        "ttr_e6",
        "ce_e6",
        (
            F.row_number().over(r1)
            + F.row_number().over(r2)
            + F.row_number().over(r3)
        )
        .cast("bigint")
        .alias("borda_score"),
    )


@query(
    "text_boilerplate_share",
    """
    WITH lines AS (
        SELECT doc_id, unnest(str_split(text, '. ')) AS line
        FROM documents
    ), norm AS (
        SELECT doc_id, trim(lower(line)) AS line FROM lines
        WHERE length(trim(line)) >= 20
    ), df AS (
        SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs
        FROM norm GROUP BY line
    ), scored AS (
        SELECT n.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(*) FILTER (d.docs > 10) AS BIGINT) AS n_boiler
        FROM norm n JOIN df d USING (line)
        GROUP BY n.doc_id
    )
    SELECT doc_id, n_lines, n_boiler,
           CAST(FLOOR(CAST(n_boiler AS DOUBLE) / n_lines * 1000000)
                AS BIGINT) AS boiler_share_e6
    FROM scored
    """,
)
def text_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BOILERPLATE share (round 7) — the doc-level
    readout of the corpus-wide C4 line-dedup program
    (text_line_dedup removes the lines; this scores the documents):
    fraction of a doc's sentences that appear in >10 documents
    corpus-wide.  High share = navigation chrome, license footers,
    template spam — the docs a mixture should downweight even when
    their unique content passes the quality gates.

    Same normalization as the line-dedup stage (trimmed lowercase
    sentences ≥20 chars); document frequency is an exact distinct
    count; one floored share per doc.

    Scale: the sentence explode and the line-keyed DF aggregation
    are the text_line_dedup cost class; the join back is keyed on
    the line hash."""
    d = load(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id", F.explode(F.split("text", r"\. ")).alias("line")
    )
    norm = lines.select(
        "doc_id", F.trim(F.lower(F.col("line"))).alias("line")
    ).filter(F.length(F.trim(F.col("line"))) >= 20)
    df_ = norm.groupBy("line").agg(
        F.countDistinct("doc_id").cast("bigint").alias("docs")
    )
    scored = (
        norm.join(df_, "line")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.count(F.when(F.col("docs") > 10, 1))
            .cast("bigint")
            .alias("n_boiler"),
        )
    )
    return scored.select(
        "doc_id",
        "n_lines",
        "n_boiler",
        F.floor(
            F.col("n_boiler").cast("double") / F.col("n_lines") * 1000000
        )
        .cast("bigint")
        .alias("boiler_share_e6"),
    )


_APPORTION_BUDGET = 1_000_000


@query(
    "corpus_token_budget_apportion",
    f"""
    WITH tok AS (
        SELECT source,
               CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM tok
    ), base AS (
        SELECT source, tokens,
               CAST(({_APPORTION_BUDGET} * tokens)
                    // (SELECT total FROM tot) AS BIGINT) AS floor_q,
               CAST(({_APPORTION_BUDGET} * tokens)
                    % (SELECT total FROM tot) AS BIGINT) AS rem
        FROM tok
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        FROM base
    ), need AS (
        SELECT CAST({_APPORTION_BUDGET} - SUM(floor_q) AS BIGINT) AS r
        FROM base
    )
    SELECT source, tokens,
           CAST(floor_q + CASE WHEN rk <= (SELECT r FROM need)
                               THEN 1 ELSE 0 END AS BIGINT) AS quota,
           CAST(CASE WHEN rk <= (SELECT r FROM need)
                     THEN 1 ELSE 0 END AS BIGINT) AS extra
    FROM ranked
    """,
)
def corpus_token_budget_apportion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget APPORTIONMENT across sources (round 9) — the exact
    integer step every mixture recipe needs before sampling: split a
    fixed training budget (1 M tokens here) across sources
    proportional to their token mass, with the rounding residue
    assigned by LARGEST REMAINDER (Hamilton's method).  Distinct from
    sample_neyman_allocation (variance-optimal sample sizing) and
    sample_upsample_mixture (per-row replication): this is the
    budget-setting step whose output FEEDS those samplers, and Hamilton
    is the one apportionment rule that never violates quota
    (each source gets floor or ceil of its exact share — asserted in
    tests).

    Everything is bigint: floor_q = (N·T_s) DIV ΣT, remainder =
    (N·T_s) mod ΣT, the R = N − Σfloor largest remainders get +1
    (ties broken by source name, pinned in both engines) — so the
    quotas sum to N exactly and the whole readout is hash-exact
    cross-engine.

    Scale: one map-side-combinable token-count aggregate over the
    corpus (the only corpus-sized stage); everything after runs on the
    SOURCE table, bounded by the source taxonomy (dozens), where the
    ranking window's single partition is the pre-reduced benign shape
    (plan-audit window_warn_prereduced)."""
    docs = load(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    tok = docs.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("tokens")
    )
    tot = tok.agg(F.sum("tokens").cast("bigint").alias("total"))
    base = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr(f"CAST(({_APPORTION_BUDGET} * tokens) DIV total AS BIGINT)").alias(
            "floor_q"
        ),
        F.expr(f"CAST(({_APPORTION_BUDGET} * tokens) % total AS BIGINT)").alias(
            "rem"
        ),
    )
    need = base.agg(
        (F.lit(_APPORTION_BUDGET) - F.sum("floor_q")).cast("bigint").alias("r")
    )
    w = Window.orderBy(F.col("rem").desc(), "source")
    ranked = base.withColumn("rk", F.row_number().over(w)).crossJoin(
        F.broadcast(need)
    )
    extra = F.when(F.col("rk") <= F.col("r"), F.lit(1)).otherwise(F.lit(0))
    return ranked.select(
        "source",
        "tokens",
        (F.col("floor_q") + extra).cast("bigint").alias("quota"),
        extra.cast("bigint").alias("extra"),
    )


@query(
    "text_rater_agreement_fleiss",
    """
    WITH rated AS (
        SELECT doc_id,
               CASE WHEN n_chars < 200 THEN 0
                    WHEN n_chars < 500 THEN 1 ELSE 2 END AS r_a,
               CASE WHEN len(str_split(text, ' ')) < 40 THEN 0
                    WHEN len(str_split(text, ' ')) < 100 THEN 1
                    ELSE 2 END AS r_b,
               CASE WHEN n_chars + (CAST('0x' || substr(md5(
                             CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) - 128)
                         < 200 THEN 0
                    WHEN n_chars + (CAST('0x' || substr(md5(
                             CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) - 128)
                         < 500 THEN 1 ELSE 2 END AS r_c
        FROM documents
    ), counts AS (
        SELECT doc_id,
               CAST((CASE WHEN r_a = 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_b = 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST((CASE WHEN r_a = 1 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_b = 1 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST((CASE WHEN r_a = 2 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_b = 2 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM rated
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n0 * n0 + n1 * n1 + n2 * n2 - 3) AS BIGINT) AS spair,
               CAST(SUM(n0) AS BIGINT) AS m0,
               CAST(SUM(n1) AS BIGINT) AS m1,
               CAST(SUM(n2) AS BIGINT) AS m2
        FROM counts
    )
    SELECT n_docs,
           CAST(FLOOR(CAST(spair AS DOUBLE)
                      / (CAST(n_docs AS DOUBLE) * 6.0) * 1000000)
                AS BIGINT) AS p_bar_e6,
           CAST(FLOOR((CAST(m0 AS DOUBLE) * CAST(m0 AS DOUBLE)
                       + CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE)
                       + CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))
                      / (CAST(n_docs AS DOUBLE) * 3.0
                         * CAST(n_docs AS DOUBLE) * 3.0) * 1000000)
                AS BIGINT) AS p_e_e6,
           CAST(FLOOR(
               (CAST(spair AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 6.0)
                - (CAST(m0 AS DOUBLE) * CAST(m0 AS DOUBLE)
                   + CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE)
                   + CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))
                  / (CAST(n_docs AS DOUBLE) * 3.0
                     * CAST(n_docs AS DOUBLE) * 3.0))
               / (1.0 - (CAST(m0 AS DOUBLE) * CAST(m0 AS DOUBLE)
                         + CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE)
                         + CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))
                        / (CAST(n_docs AS DOUBLE) * 3.0
                           * CAST(n_docs AS DOUBLE) * 3.0))
               * 1000000) AS BIGINT) AS kappa_e6
    FROM agg
    """,
)
def text_rater_agreement_fleiss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over three quality RATERS (round 9): the
    multi-rater generalization of agg_cohens_kappa — when a corpus is
    labeled by several automatic quality classifiers (or human
    annotators), kappa measures agreement BEYOND what the category
    marginals predict by chance. Here the three deterministic raters
    are real quality heuristics that disagree at the margins: a
    character-length tercile, a token-count tercile, and a
    noise-perturbed length tercile (md5-derived ±128-char jitter — a
    reproducible stand-in for rater noise).

    Per-document category counts n_ij are exact integers; with n=3
    raters, P_i = (Σn_ij²−3)/6 and everything aggregates to five
    exact bigints (N, Σpairs, three category marginals); P̄, P_e and
    κ = (P̄−P_e)/(1−P_e) evaluate in one literal double chain, three
    floored readouts. The κ∈[−1,1] bound and the
    perfect-agreement-implies-κ=1 degenerate case are referee-tested.

    Scale: one corpus pass computing three CASE expressions and a
    5-value global aggregate — map-side combinable, no shuffle beyond
    the 1-row finish."""
    docs = load(spark, sf_dir, "documents")
    jitter = md5_int(F.col("doc_id").cast("string"), digits=2) - 128
    n_tok = F.size(F.split("text", " "))

    def tercile(x, lo, hi):
        return F.when(x < lo, 0).when(x < hi, 1).otherwise(2)

    rated = docs.select(
        tercile(F.col("n_chars"), F.lit(200), F.lit(500)).alias("r_a"),
        tercile(n_tok, F.lit(40), F.lit(100)).alias("r_b"),
        tercile(F.col("n_chars") + jitter, F.lit(200), F.lit(500)).alias("r_c"),
    )
    cnt = lambda k: (  # noqa: E731
        (F.col("r_a") == k).cast("bigint")
        + (F.col("r_b") == k).cast("bigint")
        + (F.col("r_c") == k).cast("bigint")
    )
    counts = rated.select(
        cnt(0).alias("n0"), cnt(1).alias("n1"), cnt(2).alias("n2")
    )
    agg = counts.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            F.col("n0") * F.col("n0")
            + F.col("n1") * F.col("n1")
            + F.col("n2") * F.col("n2")
            - 3
        )
        .cast("bigint")
        .alias("spair"),
        F.sum("n0").cast("bigint").alias("m0"),
        F.sum("n1").cast("bigint").alias("m1"),
        F.sum("n2").cast("bigint").alias("m2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p_bar = d("spair") / (d("n_docs") * 6.0)
    p_e = (d("m0") * d("m0") + d("m1") * d("m1") + d("m2") * d("m2")) / (
        d("n_docs") * 3.0 * d("n_docs") * 3.0
    )
    kappa = (p_bar - p_e) / (1.0 - p_e)
    return agg.select(
        "n_docs",
        F.floor(p_bar * 1000000).cast("bigint").alias("p_bar_e6"),
        F.floor(p_e * 1000000).cast("bigint").alias("p_e_e6"),
        F.floor(kappa * 1000000).cast("bigint").alias("kappa_e6"),
    )


@query(
    "text_context_window_fit",
    """
    WITH tok AS (
        SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), win AS (
        SELECT unnest([64, 128, 256]) AS w
    )
    SELECT CAST(w AS BIGINT) AS window_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (n_tok <= w) AS BIGINT) AS n_fit,
           CAST(SUM(CASE WHEN n_tok <= w THEN n_tok ELSE w END)
                AS BIGINT) AS tokens_kept,
           CAST(SUM(CASE WHEN n_tok > w THEN n_tok - w ELSE 0 END)
                AS BIGINT) AS tokens_truncated,
           CAST(FLOOR(CAST(COUNT(*) FILTER (n_tok <= w) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE) * 1000000)
                AS BIGINT) AS fit_share_e6
    FROM tok CROSS JOIN win
    GROUP BY w ORDER BY window_tokens
    """,
)
def text_context_window_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window fit report (round 9): for candidate training
    context lengths (64/128/256 tokens here), how much of the corpus
    fits whole, and how many tokens a hard truncation would discard —
    the sizing table consulted BEFORE text_chunk (split long docs) and
    text_pack_sequences (pack short ones) are configured: high
    truncation loss argues for chunking, high fit share with small
    docs argues for packing. One row per candidate window, exact
    integer token accounting (kept + truncated = total, referee-
    asserted), only the fit share floors.

    Scale: one token-count pass over the corpus (the same reduction
    every text op starts with), a 3× broadcast expansion against the
    window list, one small-key rollup — map-side combinable
    throughout."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    win = spark.range(0, 3).select(
        F.element_at(
            F.array(F.lit(64), F.lit(128), F.lit(256)),
            (F.col("id") + 1).cast("int"),
        ).alias("w")
    )
    fit = F.col("n_tok") <= F.col("w")
    return (
        tok.crossJoin(F.broadcast(win))
        .groupBy(F.col("w").cast("bigint").alias("window_tokens"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_if(fit).cast("bigint").alias("n_fit"),
            F.sum(F.when(fit, F.col("n_tok")).otherwise(F.col("w")))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum(
                F.when(~fit, F.col("n_tok") - F.col("w")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("tokens_truncated"),
            F.floor(
                F.count_if(fit).cast("double")
                / F.count("*").cast("double")
                * 1000000
            )
            .cast("bigint")
            .alias("fit_share_e6"),
        )
        .orderBy("window_tokens")
    )


@query(
    "text_score_quantile_normalize",
    """
    WITH src AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
        FROM documents
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
    ), atoms AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY n_chars
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prev
        FROM documents GROUP BY n_chars
    )
    SELECT s.doc_id, s.source, s.n_chars,
           CAST(a.v AS BIGINT) AS norm_chars
    FROM src s, tot t, atoms a
    WHERE ((s.rn * t.n + s.n_s - 1) // s.n_s) > a.prev
      AND ((s.rn * t.n + s.n_s - 1) // s.n_s) <= a.prev + a.c
    """,
)
def text_score_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization ACROSS SOURCES (round 9): each
    document's score (length here, standing in for any quality score)
    is replaced by the POOLED distribution's value at the same
    within-source quantile — the batch-effect correction that makes
    scores comparable when each source's scorer ran under different
    conditions (the microarray-normalization classic, applied to
    corpus quality scores before a global threshold is applied).
    After it, every source has the same score distribution by
    construction; before it, a global cutoff silently over-prunes
    whichever source scored harsh.

    Exactness: all positions are integers — within-source rank rn
    (tie-pinned by doc_id), pooled position ⌈rn·N/n_s⌉ via integer
    ceiling-division, and the pooled lookup goes through VALUE ATOMS
    (distinct score + cumulative range), never a row-level pooled
    sort-join. No floats anywhere.

    Scale: the per-source rank is a keyed window; the pooled side
    reduces to atoms FIRST (bounded by the value domain, the
    agg_mann_whitney discipline) whose cumulative window is the
    pre-reduced benign shape; the position→atom range join is a
    broadcast of the atom table. The 100 TB variant swaps exact atoms
    for histogram_equidepth bins — same program, coarser atoms."""
    docs = load(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_cnt = Window.partitionBy("source")
    src = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_cnt).cast("bigint").alias("n_s"),
    )
    tot = docs.agg(F.count("*").cast("bigint").alias("n"))
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    atoms = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count("*").cast("bigint").alias("c"))
        .withColumn(
            "prev",
            F.coalesce(F.sum("c").over(w_prev), F.lit(0)).cast("bigint"),
        )
    )
    pos = F.expr("(rn * n + n_s - 1) DIV n_s")
    return (
        src.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(atoms),
            (pos > F.col("prev")) & (pos <= F.col("prev") + F.col("c")),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("v").cast("bigint").alias("norm_chars"),
        )
    )


@query(
    "text_tokenizer_fertility",
    """
    WITH tok AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents WHERE len(str_split(text, ' ')) > 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((SUM(n_chars) * 1000000) // SUM(n_tok) AS BIGINT)
               AS fertility_e6,
           CAST(quantile_disc((n_chars * 1000000) // n_tok, 0.5)
                AS BIGINT) AS fertility_p50_e6
    FROM tok GROUP BY lang ORDER BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language (round 9): characters per
    token — the compression-efficiency number that decides whether a
    tokenizer needs retraining for a language (high fertility = the
    vocab fragments that language into many short tokens, so its
    documents cost proportionally more context window and compute per
    character; the standard cross-lingual equity metric for
    multilingual corpora). Corpus-level fertility (total ratio) and
    the per-doc median both emitted — the mean-median gap flags
    fat-tailed fragmentation inside a language.

    Exact: both readouts are integer — the corpus ratio by bigint
    division, the median by percentile_disc over per-doc e6 integer
    ratios. No floats.

    Scale: one token-count pass, a lang-keyed rollup; the per-group
    discrete median is bounded by group cardinality
    (agg_percentile_disc's discipline)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    per_doc = F.expr("(n_chars * 1000000) DIV n_tok")
    return (
        tok.withColumn("f_doc", per_doc)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.expr(
                "CAST((SUM(n_chars) * 1000000) DIV SUM(n_tok) AS BIGINT)"
            ).alias("fertility_e6"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY f_doc)")
            .cast("bigint")
            .alias("fertility_p50_e6"),
        )
        .orderBy("lang")
    )


@query(
    "text_watermark_greenlist",
    """
    WITH toks AS (
        SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY i)
                   AS nxt
        FROM (
            SELECT doc_id, unnest(str_split(text, ' ')) AS w,
                   generate_subscripts(str_split(text, ' '), 1) AS i
            FROM documents
        )
    ), scored AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(*) FILTER (
                   CAST('0x' || substr(md5(w || '|' || nxt), 1, 4)
                        AS BIGINT) % 2 = 0) AS BIGINT) AS n_green
        FROM toks WHERE nxt IS NOT NULL GROUP BY doc_id
    )
    SELECT doc_id, n_pairs, n_green,
           CAST(FLOOR((CAST(n_green AS DOUBLE)
                       - CAST(n_pairs AS DOUBLE) / 2.0)
                      / sqrt(CAST(n_pairs AS DOUBLE) / 4.0) * 10000)
                AS BIGINT) AS z_e4,
           CAST(CASE WHEN (CAST(n_green AS DOUBLE)
                           - CAST(n_pairs AS DOUBLE) / 2.0)
                          / sqrt(CAST(n_pairs AS DOUBLE) / 4.0) > 4.0
                     THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM scored WHERE n_pairs >= 20
    ORDER BY doc_id
    """,
)
def text_watermark_greenlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-output WATERMARK detection (round 9), greenlist z-test
    (Kirchenbauer et al., ICML'23): a watermarking sampler biases
    each token toward a pseudorandom "green" half of the vocabulary
    keyed on the previous token; the detector recomputes the same
    keyed coin for every adjacent pair and z-tests the green fraction
    against the unwatermarked 1/2. In a training-data pipeline this
    is a PROVENANCE filter — flagging crawl documents that are
    themselves watermarked model output before they contaminate the
    next training run (the synthetic-text recursion problem).

    The green coin is md5(prev|next)%2 — deterministic,
    engine-portable (the frozen-randomness discipline); pair counts
    are exact bigints from one lag pass; z floors through one chain;
    the 4σ flag (p≈3e-5) keeps the false-positive budget below one
    doc per 30k on clean data, referee-asserted on this (clean)
    corpus. Short docs (<20 pairs) are excluded — no detection power.

    Scale: tokenize → lag within doc (keyed window over positions) →
    per-doc counts; no vocabulary table, no model — the detector is
    one scan, which is why it can run at crawl scale."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    )
    w_seq = Window.partitionBy("doc_id").orderBy("i")
    pairs = toks.select(
        "doc_id", "w", F.lead("w").over(w_seq).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    green = md5_int(F.col("w"), F.lit("|"), F.col("nxt"), digits=4) % 2 == 0
    scored = pairs.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count_if(green).cast("bigint").alias("n_green"),
    ).filter(F.col("n_pairs") >= 20)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    z = (d("n_green") - d("n_pairs") / 2.0) / F.sqrt(d("n_pairs") / 4.0)
    return scored.select(
        "doc_id",
        "n_pairs",
        "n_green",
        F.floor(z * 10000).cast("bigint").alias("z_e4"),
        F.when(z > 4.0, 1).otherwise(0).cast("bigint").alias("flagged"),
    ).orderBy("doc_id")


@query(
    "corpus_contamination_matrix",
    """
    WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                              1, 7) AS BIGINT) % 1000 < 800 THEN 'train'
                    WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                              1, 7) AS BIGINT) % 1000 < 900 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), sh AS (
        SELECT DISTINCT split,
               md5(concat_ws(' ', ws[i], ws[i + 1], ws[i + 2],
                             ws[i + 3], ws[i + 4])) AS h
        FROM (
            SELECT split, str_split(text, ' ') AS ws,
                   unnest(range(1, len(str_split(text, ' ')) - 3)) AS i
            FROM assigned
        )
    ), sizes AS (
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM sh GROUP BY split
    ), shared AS (
        SELECT a.split AS split_a, b.split AS split_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON a.h = b.h AND a.split < b.split
        GROUP BY a.split, b.split
    )
    SELECT s.split_a, s.split_b, za.n_shingles AS n_a,
           zb.n_shingles AS n_b, s.n_shared,
           CAST(FLOOR(CAST(s.n_shared AS DOUBLE) / za.n_shingles
                      * 1000000) AS BIGINT) AS rate_a_e6,
           CAST(FLOOR(CAST(s.n_shared AS DOUBLE) / zb.n_shingles
                      * 1000000) AS BIGINT) AS rate_b_e6
    FROM shared s
    JOIN sizes za ON za.split = s.split_a
    JOIN sizes zb ON zb.split = s.split_b
    ORDER BY s.split_a, s.split_b
    """,
)
def corpus_contamination_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-SPLIT CONTAMINATION matrix (round 9): after hash-
    splitting the corpus 80/10/10 (the split_train_holdout bucket
    discipline), measure 5-gram overlap between every split pair —
    the audit that catches what text_decontaminate exists to fix:
    if val/test shingles appear verbatim in train, benchmark numbers
    are inflated. The readout is per-pair distinct-shingle sets
    sizes, the shared count, and the contamination rate from each
    side — run it BEFORE training, on every corpus refresh.

    Exactness: pure set arithmetic over md5 5-gram digests (engine-
    portable hashes, the text_fingerprint discipline); the two rates
    floor once from exact integers.

    Scale: shingle sets reduce to distinct (split, digest) pairs
    BEFORE the pair join — the join key is the digest, each digest
    matching ≤3 split rows (bounded fan-out, no pairs² anywhere);
    counts are map-side combinable. The same plan generalizes to
    per-source × split matrices by widening the key."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    bucket = md5_int(F.col("doc_id").cast("string"), digits=7) % 1000
    assigned = docs.select(
        F.when(bucket < 800, "train")
        .when(bucket < 900, "val")
        .otherwise("test")
        .alias("split"),
        F.split("text", " ").alias("ws"),
    )
    ws = F.col("ws")
    sh = assigned.select(
        "split",
        F.explode(
            F.transform(
                safe_offsets(F.size(ws) - 4),
                lambda i: F.md5(
                    F.concat_ws(
                        " ",
                        F.element_at(ws, i),
                        F.element_at(ws, i + 1),
                        F.element_at(ws, i + 2),
                        F.element_at(ws, i + 3),
                        F.element_at(ws, i + 4),
                    ).cast("binary")
                ),
            )
        ).alias("h"),
    ).distinct()
    sizes = sh.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.split") < F.col("b.split")),
        )
        .groupBy(
            F.col("a.split").alias("split_a"),
            F.col("b.split").alias("split_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    za = sizes.select(
        F.col("split").alias("split_a"), F.col("n_shingles").alias("n_a")
    )
    zb = sizes.select(
        F.col("split").alias("split_b"), F.col("n_shingles").alias("n_b")
    )
    j = shared.join(F.broadcast(za), "split_a").join(
        F.broadcast(zb), "split_b"
    )
    return j.select(
        "split_a",
        "split_b",
        "n_a",
        "n_b",
        "n_shared",
        F.floor(
            F.col("n_shared").cast("double") / F.col("n_a") * 1000000
        )
        .cast("bigint")
        .alias("rate_a_e6"),
        F.floor(
            F.col("n_shared").cast("double") / F.col("n_b") * 1000000
        )
        .cast("bigint")
        .alias("rate_b_e6"),
    ).orderBy("split_a", "split_b")


@query(
    "text_char_ngram_entropy",
    """
    WITH uni AS (
        SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT lang, substr(text, i, 1) AS g
            FROM (
                SELECT lang, text,
                       unnest(range(1, len(text) + 1)) AS i
                FROM documents
            )
        ) GROUP BY lang, g
    ), bi AS (
        SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT lang, substr(text, i, 2) AS g
            FROM (
                SELECT lang, text,
                       unnest(range(1, len(text))) AS i
                FROM documents
            )
        ) GROUP BY lang, g
    ), hu AS (
        SELECT lang,
               CAST(SUM(c) AS BIGINT) AS n_unigrams,
               CAST(COUNT(*) AS BIGINT) AS ndv_unigram,
               CAST(SUM(term) AS BIGINT) AS h_uni_e9
        FROM (
            SELECT lang, c,
                   CAST(FLOOR(-(CAST(c AS DOUBLE) / nl)
                              * ln(CAST(c AS DOUBLE) / nl)
                              * 1000000000) AS BIGINT) AS term
            FROM (
                SELECT lang, c,
                       SUM(c) OVER (PARTITION BY lang) AS nl
                FROM uni
            )
        ) GROUP BY lang
    ), hb AS (
        SELECT lang,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(COUNT(*) AS BIGINT) AS ndv_bigram,
               CAST(SUM(term) AS BIGINT) AS h_bi_e9
        FROM (
            SELECT lang, c,
                   CAST(FLOOR(-(CAST(c AS DOUBLE) / nl)
                              * ln(CAST(c AS DOUBLE) / nl)
                              * 1000000000) AS BIGINT) AS term
            FROM (
                SELECT lang, c,
                       SUM(c) OVER (PARTITION BY lang) AS nl
                FROM bi
            )
        ) GROUP BY lang
    )
    SELECT u.lang, u.n_unigrams, u.ndv_unigram, u.h_uni_e9,
           b.n_bigrams, b.ndv_bigram, b.h_bi_e9,
           CAST(b.h_bi_e9 - u.h_uni_e9 AS BIGINT) AS h_cond_e9
    FROM hu u JOIN hb b ON u.lang = b.lang
    ORDER BY u.lang
    """,
)
def text_char_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER n-gram ENTROPY per language (round 9): H(unigram),
    H(bigram), and the conditional entropy H(c₂|c₁) = H₂ − H₁ — the
    Shannon-style redundancy fingerprint of a language/script that
    language-ID models implicitly learn. In a corpus pipeline this
    is a CHEAP drift + anomaly probe: machine-generated or encrypted
    junk shows near-maximal conditional entropy, template spam
    shows collapsed entropy, and a shift in a language's profile
    flags an encoding or crawler regression upstream of any model.

    Exactness: gram counts are exact integers from substr windows
    (identical in both engines); each −p·ln p term floors to e9 per
    gram then sums as integers (order-free; agg_kl_divergence ln
    precedent); the conditional entropy is an integer subtraction.

    Scale: the gram explode is linear in corpus characters with a
    keyed (lang, gram) reduce — the classic vocabulary-count shape
    (group count bounded by alphabet², not rows); the entropy pass
    runs over the tiny distinct-gram tables with a lang-keyed
    window."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    def grams(width: int, upper):
        return docs.select(
            "lang",
            F.explode(
                F.transform(
                    safe_offsets(upper),
                    lambda i: F.col("text").substr(i, F.lit(width)),
                )
            ).alias("g"),
        ).groupBy("lang", "g").agg(F.count("*").cast("bigint").alias("c"))

    uni = grams(1, F.length("text"))
    bi = grams(2, F.length("text") - 1)
    w_lang = Window.partitionBy("lang")

    def h(df, n_name, ndv_name, h_name):
        p = F.col("c").cast("double") / F.sum("c").over(w_lang)
        term = F.floor(-p * F.log(p) * 1000000000).cast("bigint")
        return (
            df.withColumn("term", term)
            .groupBy("lang")
            .agg(
                F.sum("c").cast("bigint").alias(n_name),
                F.count("*").cast("bigint").alias(ndv_name),
                F.sum("term").cast("bigint").alias(h_name),
            )
        )
    hu = h(uni, "n_unigrams", "ndv_unigram", "h_uni_e9")
    hb = h(bi, "n_bigrams", "ndv_bigram", "h_bi_e9")
    return (
        hu.join(hb, "lang")
        .select(
            "lang",
            "n_unigrams",
            "ndv_unigram",
            "h_uni_e9",
            "n_bigrams",
            "ndv_bigram",
            "h_bi_e9",
            (F.col("h_bi_e9") - F.col("h_uni_e9"))
            .cast("bigint")
            .alias("h_cond_e9"),
        )
        .orderBy("lang")
    )


@query(
    "agg_youden_j_threshold",
    f"""
    WITH scored AS (
        SELECT doc_id, {_S_E6_SQL},
               CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
        FROM documents
    ), per_s AS (
        SELECT s_e6,
               CAST(COUNT(*) FILTER (label = 1) AS BIGINT) AS n1_at,
               CAST(COUNT(*) FILTER (label = 0) AS BIGINT) AS n0_at
        FROM scored GROUP BY s_e6
    ), cum AS (
        SELECT s_e6,
               CAST(SUM(n1_at) OVER (ORDER BY s_e6 DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
               CAST(SUM(n0_at) OVER (ORDER BY s_e6 DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp,
               CAST(SUM(n1_at) OVER () AS BIGINT) AS p,
               CAST(SUM(n0_at) OVER () AS BIGINT) AS nn
        FROM per_s
    ), j AS (
        SELECT s_e6, tp, fp, p, nn,
               CAST(FLOOR((CAST(tp AS DOUBLE) / p
                           - CAST(fp AS DOUBLE) / nn) * 1000000)
                    AS BIGINT) AS j_e6,
               CAST(ROW_NUMBER() OVER (ORDER BY
                    CAST(FLOOR((CAST(tp AS DOUBLE) / p
                                - CAST(fp AS DOUBLE) / nn) * 1000000)
                         AS BIGINT) DESC, s_e6) AS BIGINT) AS rnk
        FROM cum
    )
    SELECT s_e6 AS threshold_e6, tp, fp,
           CAST(p - tp AS BIGINT) AS fn, CAST(nn - fp AS BIGINT) AS tn,
           j_e6,
           CAST(FLOOR(CAST(tp AS DOUBLE) / p * 1000000) AS BIGINT)
               AS tpr_e6,
           CAST(FLOOR(CAST(fp AS DOUBLE) / nn * 1000000) AS BIGINT)
               AS fpr_e6
    FROM j WHERE rnk = 1
    """,
)
def agg_youden_j_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YOUDEN-J optimal threshold (round 9): text_model_auc ranks
    the quality model; this op OPERATIONALIZES it — sweep every
    observed score as a cut, J(t) = TPR(t) − FPR(t), and return the
    threshold maximizing J (the point farthest above the ROC
    diagonal — the standard operating point when FP and FN cost the
    same). Same score and label construction as text_model_auc, so
    the pair audits one model end-to-end: discrimination (AUC) then
    deployment cut (J).

    Exactness: per-score label counts and the cumulative TP/FP are
    exact integers (the sweep IS the ROC); J floors to e6 and BOTH
    the argmax and its tie-break (higher threshold) rank on floored
    integers — identical selection in both engines.

    Scale: one keyed reduce to distinct scores, then windows over
    the score-cardinality-bounded tape (budgeted); the argmax never
    touches row-scale data."""
    docs = load(spark, sf_dir, "documents")
    n_spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_the = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("the"), F.lit("")))
    ) / 3.0
    z = (
        -0.25
        + 1.5 * (F.col("n_chars").cast("double") / 1000)
        - 0.75 * (n_spaces.cast("double") / 100)
        + 2.0
        * (
            n_the.cast("double")
            / F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
            * 10
        )
    )
    scored = docs.select(
        F.floor(1000000.0 / (1.0 + F.exp(-z))).cast("bigint").alias("s_e6"),
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("label"),
    )
    per_s = scored.groupBy("s_e6").agg(
        F.count_if(F.col("label") == 1).cast("bigint").alias("n1_at"),
        F.count_if(F.col("label") == 0).cast("bigint").alias("n0_at"),
    )
    w_desc = Window.orderBy(F.col("s_e6").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_s.select(
        "s_e6",
        F.sum("n1_at").over(w_desc).cast("bigint").alias("tp"),
        F.sum("n0_at").over(w_desc).cast("bigint").alias("fp"),
        F.sum("n1_at").over(w_all).cast("bigint").alias("p"),
        F.sum("n0_at").over(w_all).cast("bigint").alias("nn"),
    )
    j_e6 = F.floor(
        (
            F.col("tp").cast("double") / F.col("p")
            - F.col("fp").cast("double") / F.col("nn")
        )
        * 1000000
    ).cast("bigint")
    j = cum.withColumn("j_e6", j_e6).withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.col("j_e6").desc(), "s_e6"))
        .cast("bigint"),
    )
    return j.filter(F.col("rnk") == 1).select(
        F.col("s_e6").alias("threshold_e6"),
        "tp",
        "fp",
        (F.col("p") - F.col("tp")).cast("bigint").alias("fn"),
        (F.col("nn") - F.col("fp")).cast("bigint").alias("tn"),
        "j_e6",
        F.floor(F.col("tp").cast("double") / F.col("p") * 1000000)
        .cast("bigint")
        .alias("tpr_e6"),
        F.floor(F.col("fp").cast("double") / F.col("nn") * 1000000)
        .cast("bigint")
        .alias("fpr_e6"),
    )


@query(
    "text_model_average_precision",
    f"""
    WITH scored AS (
        SELECT doc_id, {_S_E6_SQL},
               CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
        FROM documents
    ), buckets AS (
        SELECT s_e6, CAST(COUNT(*) AS BIGINT) AS n_b,
               CAST(SUM(label) AS BIGINT) AS n1_b
        FROM scored GROUP BY s_e6
    ), tot AS (
        SELECT CAST(SUM(n1_b) AS BIGINT) AS n1,
               CAST(SUM(n_b - n1_b) AS BIGINT) AS n0
        FROM buckets
    ), cum AS (
        SELECT n1_b,
               CAST(SUM(n_b) OVER (ORDER BY s_e6 DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
               CAST(SUM(n1_b) OVER (ORDER BY s_e6 DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp_cum
        FROM buckets
    ), terms AS (
        SELECT CAST(FLOOR(CAST(n1_b AS DOUBLE) * tp_cum / n_cum
                    / (SELECT n1 FROM tot)
                    * 1000000000000) AS BIGINT) AS term_e12
        FROM cum WHERE n1_b > 0
    )
    SELECT t.n1, t.n0, CAST(SUM(term_e12) AS BIGINT) AS ap_e12
    FROM tot t, terms GROUP BY t.n1, t.n0
    """,
)
def text_model_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AVERAGE PRECISION (area under the precision–recall curve) of
    the quality classifier (round 9) — the model-eval leg ROC AUC
    cannot cover under class imbalance: AUC stays high when
    negatives dominate because false positives barely dent the FPR,
    while AP = Σ_t ΔR_t·P_t weights every threshold by the PRECISION
    the consumer actually experiences at that operating point.  The
    sklearn step-interpolation convention (no trapezoid — that one
    is optimistic on PR curves) over DISTINCT score thresholds.

    Exactness: the corpus reduces to exact (s_e6 → n_b, n1_b)
    buckets first (the histogram-AUC lane); per threshold,
    ΔTP = n1_b, TP and N at the cut are exact prefix bigints, and
    each term ΔTP·TP/(N·n₁) runs ONE IEEE-identical double chain
    floored to e12 — the sum of floored terms is the defined
    quantization (referee-matched), order-free as a bigint sum.

    Scale: keyed bucket aggregate (map-side combinable, ≤1e6 rows
    by the e6 score domain regardless of corpus size); cumulative
    window runs over the pre-reduced bucket tape; 1-row finish."""
    scored = _auc_scored(spark, sf_dir)
    buckets = scored.groupBy("s_e6").agg(
        F.count("*").cast("bigint").alias("n_b"),
        F.sum("label").cast("bigint").alias("n1_b"),
    )
    tot = buckets.agg(
        F.sum("n1_b").cast("bigint").alias("n1"),
        F.sum(F.col("n_b") - F.col("n1_b")).cast("bigint").alias("n0"),
    )
    w_desc = Window.orderBy(F.col("s_e6").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = buckets.select(
        "n1_b",
        F.sum("n_b").over(w_desc).cast("bigint").alias("n_cum"),
        F.sum("n1_b").over(w_desc).cast("bigint").alias("tp_cum"),
    ).filter(F.col("n1_b") > 0)
    terms = cum.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n0",
        F.floor(
            F.col("n1_b").cast("double")
            * F.col("tp_cum")
            / F.col("n_cum")
            / F.col("n1")
            * 1000000000000
        )
        .cast("bigint")
        .alias("term_e12"),
    )
    return terms.groupBy("n1", "n0").agg(
        F.sum("term_e12").cast("bigint").alias("ap_e12")
    )


@query(
    "text_model_brier",
    f"""
    WITH scored AS (
        SELECT doc_id, {_S_E6_SQL},
               CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
        FROM documents
    ), dev AS (
        SELECT label,
               CAST(s_e6 - label * 1000000 AS HUGEINT) AS d
        FROM scored
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(label) AS BIGINT) AS n1,
               SUM(d * d) AS ss,
               SUM(CASE WHEN label = 1 THEN d * d END) AS ss1,
               SUM(CASE WHEN label = 0 THEN d * d END) AS ss0
        FROM dev
    )
    SELECT n, n1,
           CAST(FLOOR(CAST(ss AS DOUBLE) / n) AS BIGINT) AS brier_e12,
           CAST(FLOOR(CAST(ss1 AS DOUBLE) / n1) AS BIGINT)
               AS brier_pos_e12,
           CAST(FLOOR(CAST(ss0 AS DOUBLE) / (n - n1)) AS BIGINT)
               AS brier_neg_e12
    FROM agg
    """,
)
def text_model_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE of the quality classifier (round 9) — the proper
    scoring rule that closes the model-eval family: AUC ranks
    (order-only), ECE bins calibration (binned), AP weights by
    precision; the Brier score mean((p−y)²) is the single number
    that rewards BOTH discrimination and calibration at once and
    cannot be gamed by either alone — the metric to minimize when
    the score feeds a downstream threshold-free consumer (mixture
    weighting, soft filtering).  Per-class conditionals expose the
    asymmetry (a scorer can be sharp on positives and mushy on
    negatives — the averages hide it).

    Exactness is TOTAL until one division: p floors to e6 once (the
    shared _auc_scored lane), d = p_e6 − y·10⁶ is an exact integer,
    Σd² accumulates in 128-bit (hugeint / decimal(38,0) — d² is
    1e12-scale, int64 saturates near 9×10⁶ docs), and each readout
    is one floored double division; (p−y)² lands in exact e12 units.

    Scale: ONE map-side-combinable global aggregate over the corpus;
    no window, no join, no sort — the cheapest shape there is."""
    scored = _auc_scored(spark, sf_dir)
    dec = "decimal(38,0)"
    d = (F.col("s_e6") - F.col("label") * 1000000).cast(dec)
    agg = scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("n1"),
        F.sum(d * d).alias("ss"),
        F.sum(F.when(F.col("label") == 1, d * d)).alias("ss1"),
        F.sum(F.when(F.col("label") == 0, d * d)).alias("ss0"),
    )
    return agg.select(
        "n",
        "n1",
        F.floor(F.col("ss").cast("double") / F.col("n"))
        .cast("bigint")
        .alias("brier_e12"),
        F.floor(F.col("ss1").cast("double") / F.col("n1"))
        .cast("bigint")
        .alias("brier_pos_e12"),
        F.floor(F.col("ss0").cast("double") / (F.col("n") - F.col("n1")))
        .cast("bigint")
        .alias("brier_neg_e12"),
    )


@query(
    "text_vocab_coverage_curve",
    """
    WITH toks AS (
        SELECT unnest(str_split(lower(text), ' ')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE tok <> '' GROUP BY tok
    ), ranked AS (
        SELECT c,
               ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn,
               CAST(SUM(c) OVER () AS BIGINT) AS total,
               CAST(COUNT(*) OVER () AS BIGINT) AS vocab_size,
               CAST(SUM(c) OVER (ORDER BY c DESC, tok
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM vocab
    )
    SELECT CAST(n.n AS BIGINT) AS top_n,
           CAST(MAX(r.vocab_size) AS BIGINT) AS vocab_size,
           CAST(MAX(r.total) AS BIGINT) AS total_tokens,
           CAST(MAX(CASE WHEN r.rn <= n.n THEN r.cum END) AS BIGINT)
               AS covered_tokens,
           CAST(FLOOR(CAST(MAX(CASE WHEN r.rn <= n.n THEN r.cum END)
                           AS DOUBLE) * 1000000 / MAX(r.total))
                AS BIGINT) AS coverage_e6
    FROM ranked r, (SELECT unnest([10, 100, 1000]) AS n) n
    GROUP BY n.n ORDER BY top_n
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-N VOCABULARY COVERAGE curve (round 9) — the vocab-sizing
    table tokenizer design actually reads: what share of all token
    OCCURRENCES do the N most frequent types cover, at N = 10/100/
    1000?  Zipf's law predicts the shape (text_zipf_slope fits the
    exponent); this measures the cumulative reality the budget
    decision needs — "1000 types cover 85%" sizes the vocab,
    text_rare_token_mask handles what's left, and vocab_coverage
    audits a FIXED external vocab where this derives the curve from
    the corpus itself.

    Exactness: token counts exact; the frequency ranking tie-pins
    (count DESC, token); cumulative and total are exact bigints;
    coverage floors once per N — the threshold CASE compares integer
    ranks.

    Scale: one token count (map-side combinable); the ranked
    cumulative runs over the VOCAB table (Zipf-bounded, pre-reduced
    — the audit-benign window class), and the N-sweep is a 3-row
    broadcast expand."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("c"))
    w_ord = Window.orderBy(F.col("c").desc(), "tok")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ranked = vocab.select(
        "c",
        F.row_number().over(w_ord).alias("rn"),
        F.sum("c").over(w_all).cast("bigint").alias("total"),
        F.count("*").over(w_all).cast("bigint").alias("vocab_size"),
        F.sum("c").over(w_cum).cast("bigint").alias("cum"),
    )
    ns = spark.range(0).sparkSession.createDataFrame(
        [(10,), (100,), (1000,)], "top_n bigint"
    )
    joined = ranked.crossJoin(F.broadcast(ns))
    return (
        joined.groupBy("top_n")
        .agg(
            F.max("vocab_size").cast("bigint").alias("vocab_size"),
            F.max("total").cast("bigint").alias("total_tokens"),
            F.max(F.when(F.col("rn") <= F.col("top_n"), F.col("cum")))
            .cast("bigint")
            .alias("covered_tokens"),
            F.floor(
                F.max(
                    F.when(F.col("rn") <= F.col("top_n"), F.col("cum"))
                ).cast("double")
                * 1000000
                / F.max("total")
            )
            .cast("bigint")
            .alias("coverage_e6"),
        )
        .orderBy("top_n")
    )


@query(
    "text_model_mcc",
    f"""
    WITH scored AS (
        SELECT doc_id, {_S_E6_SQL},
               CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
        FROM documents
    ), cm AS (
        SELECT CAST(COUNT(*) FILTER (s_e6 >= 500000 AND label = 1)
                    AS BIGINT) AS tp,
               CAST(COUNT(*) FILTER (s_e6 >= 500000 AND label = 0)
                    AS BIGINT) AS fp,
               CAST(COUNT(*) FILTER (s_e6 < 500000 AND label = 0)
                    AS BIGINT) AS tn,
               CAST(COUNT(*) FILTER (s_e6 < 500000 AND label = 1)
                    AS BIGINT) AS fn
        FROM scored
    )
    SELECT tp, fp, tn, fn,
           CASE WHEN (tp + fp) * (tp + fn) > 0
                 AND (tn + fp) * (tn + fn) > 0
                THEN CAST(FLOOR(
                    CAST(CAST(tp AS HUGEINT) * tn
                         - CAST(fp AS HUGEINT) * fn AS DOUBLE)
                    / sqrt(CAST(tp + fp AS DOUBLE))
                    / sqrt(CAST(tp + fn AS DOUBLE))
                    / sqrt(CAST(tn + fp AS DOUBLE))
                    / sqrt(CAST(tn + fn AS DOUBLE))
                    * 1000000) AS BIGINT)
                ELSE NULL END AS mcc_e6
    FROM cm
    """,
)
def text_model_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTHEWS CORRELATION at the 0.5 operating point (round 9) —
    the single-threshold verdict closing the binary-eval family:
    AUC/AP integrate over all thresholds, ECE/Brier score the
    probabilities, Youden-J picks a point; MCC judges the DEPLOYED
    cut — the one confusion-matrix summary that stays honest under
    imbalance (accuracy and F1 both reward majority-class collapse;
    MCC = 0 for any constant classifier, by construction).  MCC =
    (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)), a true
    correlation in [−1, 1].

    Exactness: the four cells are exact counts on the already-
    floored e6 score (threshold compares integers); the numerator
    runs 128-bit (TP·TN passes int64 near 3M docs); one chain of
    four IEEE sqrts floors once; degenerate margins (a constant
    classifier) emit NULL — MCC is undefined there, not 0.

    Scale: ONE map-side-combinable conditional-count aggregate."""
    scored = _auc_scored(spark, sf_dir)
    dec = "decimal(38,0)"
    pred = F.col("s_e6") >= 500000
    cm = scored.agg(
        F.count_if(pred & (F.col("label") == 1)).cast("bigint").alias("tp"),
        F.count_if(pred & (F.col("label") == 0)).cast("bigint").alias("fp"),
        F.count_if(~pred & (F.col("label") == 0)).cast("bigint").alias("tn"),
        F.count_if(~pred & (F.col("label") == 1)).cast("bigint").alias("fn"),
    )
    num = (
        F.col("tp").cast(dec) * F.col("tn")
        - F.col("fp").cast(dec) * F.col("fn")
    )
    ok = (
        ((F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn")) > 0)
        & ((F.col("tn") + F.col("fp")) * (F.col("tn") + F.col("fn")) > 0)
    )
    mcc = (
        num.cast("double")
        / F.sqrt((F.col("tp") + F.col("fp")).cast("double"))
        / F.sqrt((F.col("tp") + F.col("fn")).cast("double"))
        / F.sqrt((F.col("tn") + F.col("fp")).cast("double"))
        / F.sqrt((F.col("tn") + F.col("fn")).cast("double"))
    )
    return cm.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.when(ok, F.floor(mcc * 1000000).cast("bigint"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("mcc_e6"),
    )


@query(
    "text_source_divergence_matrix",
    """
    WITH cnt AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT d.source, unnest(str_split(d.text, ' ')) AS token
            FROM documents d
        ) WHERE token <> '' GROUP BY source, token
    ), srcs AS (
        SELECT DISTINCT source FROM cnt
    ), pairs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM srcs a JOIN srcs b ON a.source < b.source
    ), grid AS (
        SELECT p.sa, p.sb, t.token
        FROM pairs p JOIN cnt t ON t.source = p.sa OR t.source = p.sb
        GROUP BY p.sa, p.sb, t.token
    ), joined AS (
        SELECT g.sa, g.sb, g.token,
               CAST(COALESCE(ca.c, 0) AS BIGINT) AS cp,
               CAST(COALESCE(cb.c, 0) AS BIGINT) AS cq
        FROM grid g
        LEFT JOIN cnt ca ON ca.source = g.sa AND ca.token = g.token
        LEFT JOIN cnt cb ON cb.source = g.sb AND cb.token = g.token
    ), tot AS (
        SELECT sa, sb, token, cp, cq,
               CAST(SUM(cp) OVER (PARTITION BY sa, sb) AS BIGINT) AS np,
               CAST(SUM(cq) OVER (PARTITION BY sa, sb) AS BIGINT) AS nq,
               CAST(COUNT(*) OVER (PARTITION BY sa, sb) AS BIGINT) AS v
        FROM joined
    ), terms AS (
        SELECT sa, sb, v,
               CAST(FLOOR((0.5 * ((CAST(cp + 1 AS DOUBLE) / (np + v)))
                           * ln(((CAST(cp + 1 AS DOUBLE) / (np + v)))
                                / ((((CAST(cp + 1 AS DOUBLE) / (np + v)))
                                    + ((CAST(cq + 1 AS DOUBLE)
                                        / (nq + v)))) / 2))
                           + 0.5 * ((CAST(cq + 1 AS DOUBLE) / (nq + v)))
                           * ln(((CAST(cq + 1 AS DOUBLE) / (nq + v)))
                                / ((((CAST(cp + 1 AS DOUBLE) / (np + v)))
                                    + ((CAST(cq + 1 AS DOUBLE)
                                        / (nq + v)))) / 2)))
                          * 1000000000) AS BIGINT) AS term_e9
        FROM tot
    )
    SELECT sa, sb, CAST(MAX(v) AS BIGINT) AS union_vocab,
           CAST(SUM(term_e9) AS BIGINT) AS js_e9
    FROM terms GROUP BY sa, sb ORDER BY sa, sb
    """,
)
def text_source_divergence_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PAIRWISE Jensen-Shannon drift MATRIX across sources (round 9)
    — text_js_divergence generalized from one pinned pair to the
    full upper triangle: the table corpus mixing actually consults
    (which sources are interchangeable, which pair carries the real
    diversity, which new source duplicates an old one — a near-zero
    JS row is a redundancy flag BEFORE paying to ingest).  JS per
    pair over the PAIR'S union vocabulary with add-1 smoothing —
    symmetric, bounded by ln 2, always finite.

    Exactness: counts/margins exact bigints; each token's mixture
    term is ONE literal-order double chain floored e9 (the
    text_js_divergence chain verbatim, re-keyed per pair), summed
    order-free per pair.

    Scale: token counts reduce once (map-side); the pair grid costs
    Σ_pairs |union vocab| — bounded by |sources|²·|vocab|, the
    documented quadratic-in-SOURCES (not corpus) trade, fine while
    sources number dozens; per-pair margins are keyed windows."""
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select(
            "source",
            F.explode(F.split("text", " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    srcs = cnt.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(
            srcs.alias("b"),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
    )
    grid = (
        F.broadcast(pairs)
        .join(
            cnt.alias("t"),
            (F.col("t.source") == F.col("sa"))
            | (F.col("t.source") == F.col("sb")),
        )
        .select("sa", "sb", "token")
        .distinct()
    )
    ca = cnt.select(
        F.col("source").alias("sa"),
        F.col("token").alias("token"),
        F.col("c").alias("cp"),
    )
    cb = cnt.select(
        F.col("source").alias("sb"),
        F.col("token").alias("token"),
        F.col("c").alias("cq"),
    )
    joined = (
        grid.join(ca, ["sa", "token"], "left")
        .join(cb, ["sb", "token"], "left")
        .select(
            "sa",
            "sb",
            F.coalesce(F.col("cp"), F.lit(0)).cast("bigint").alias("cp"),
            F.coalesce(F.col("cq"), F.lit(0)).cast("bigint").alias("cq"),
        )
    )
    w_pair = Window.partitionBy("sa", "sb")
    tot = joined.select(
        "sa",
        "sb",
        "cp",
        "cq",
        F.sum("cp").over(w_pair).cast("bigint").alias("np"),
        F.sum("cq").over(w_pair).cast("bigint").alias("nq"),
        F.count("*").over(w_pair).cast("bigint").alias("v"),
    )
    p = (F.col("cp") + 1).cast("double") / (F.col("np") + F.col("v"))
    q = (F.col("cq") + 1).cast("double") / (F.col("nq") + F.col("v"))
    m = (p + q) / 2
    term = F.floor(
        (0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)) * 1000000000
    ).cast("bigint")
    terms = tot.select("sa", "sb", "v", term.alias("term_e9"))
    return (
        terms.groupBy("sa", "sb")
        .agg(
            F.max("v").cast("bigint").alias("union_vocab"),
            F.sum("term_e9").cast("bigint").alias("js_e9"),
        )
        .orderBy("sa", "sb")
    )


@query(
    "text_good_turing_mass",
    """
    WITH toks AS (
        SELECT lang, unnest(str_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS r
        FROM toks GROUP BY 1, 2
    ), fof AS (
        SELECT lang,
               CAST(SUM(r) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(COUNT(*) FILTER (r = 1) AS BIGINT) AS f1,
               CAST(COUNT(*) FILTER (r = 2) AS BIGINT) AS f2,
               CAST(COUNT(*) FILTER (r = 3) AS BIGINT) AS f3,
               CAST(COUNT(*) FILTER (r = 4) AS BIGINT) AS f4
        FROM counts GROUP BY 1
    )
    SELECT lang, n_tokens, vocab, f1, f2, f3, f4,
           CAST(f1 * 1000000 // n_tokens AS BIGINT) AS p0_e6,
           CASE WHEN f1 > 0
                THEN CAST(2 * f2 * 1000000 // f1 AS BIGINT)
                ELSE NULL END AS r1_star_e6,
           CASE WHEN f2 > 0
                THEN CAST(3 * f3 * 1000000 // f2 AS BIGINT)
                ELSE NULL END AS r2_star_e6,
           CASE WHEN f3 > 0
                THEN CAST(4 * f4 * 1000000 // f3 AS BIGINT)
                ELSE NULL END AS r3_star_e6
    FROM fof ORDER BY lang
    """,
)
def text_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD-TURING unseen mass + smoothed counts per language (round
    10): p₀ = f₁/N is the probability that the NEXT token drawn is a
    type the corpus has never seen (singletons are the evidence), and
    r* = (r+1)·f_{r+1}/f_r are the smoothed counts every classical LM
    backoff (Katz) is built on.  The vocabulary-side twin of
    agg_chao1_richness (same frequency-of-frequencies input, opposite
    question: Chao1 asks how many MORE types exist, Good-Turing how
    much probability MASS they carry) — and the quantitative basis
    under text_heaps_law's growth curve: a language whose p₀ stays
    high after N tokens will keep minting vocabulary.

    ZERO floats: frequency-of-frequencies are exact counts and every
    readout is an exact integer division (e6-scaled) — no
    quantization boundary anywhere.

    Scale: explode → two map-side-combinable keyed aggregations
    (tokens → type counts → f_r per language); nothing after the
    second agg exceeds |langs| rows."""
    counts = (
        tokens(load(spark, sf_dir, "documents"))
        .groupBy("lang", "token")
        .agg(F.count("*").cast("bigint").alias("r"))
    )
    fof = counts.groupBy("lang").agg(
        F.sum("r").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        F.count_if(F.col("r") == 1).cast("bigint").alias("f1"),
        F.count_if(F.col("r") == 2).cast("bigint").alias("f2"),
        F.count_if(F.col("r") == 3).cast("bigint").alias("f3"),
        F.count_if(F.col("r") == 4).cast("bigint").alias("f4"),
    )
    return fof.select(
        "lang",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        "f3",
        "f4",
        F.expr("CAST(f1 * 1000000 DIV n_tokens AS BIGINT)").alias("p0_e6"),
        F.when(
            F.col("f1") > 0, F.expr("CAST(2 * f2 * 1000000 DIV f1 AS BIGINT)")
        ).alias("r1_star_e6"),
        F.when(
            F.col("f2") > 0, F.expr("CAST(3 * f3 * 1000000 DIV f2 AS BIGINT)")
        ).alias("r2_star_e6"),
        F.when(
            F.col("f3") > 0, F.expr("CAST(4 * f4 * 1000000 DIV f3 AS BIGINT)")
        ).alias("r3_star_e6"),
    ).orderBy("lang")


@query(
    "text_lm_holdout_perplexity",
    """
    WITH split AS (
        SELECT doc_id, str_split(text, ' ') AS t,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 7) AS BIGINT) % 1000 < 50
                    THEN 'holdout' ELSE 'train' END AS split
        FROM documents
        WHERE len(str_split(text, ' ')) >= 2
    ), train_bg AS (
        SELECT t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram
        FROM (SELECT t, unnest(range(1, len(t))) AS i
              FROM split WHERE split = 'train')
    ), c2 AS (
        SELECT w1, bigram, CAST(COUNT(*) AS BIGINT) AS c
        FROM train_bg GROUP BY 1, 2
    ), c1 AS (
        SELECT w1, CAST(SUM(c) AS BIGINT) AS cw FROM c2 GROUP BY 1
    ), v AS (
        SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
        FROM (SELECT unnest(t) AS tok FROM split WHERE split = 'train')
    ), eval_bg AS (
        SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
              FROM split WHERE split = 'holdout')
    ), scored AS (
        SELECT e.doc_id,
               CAST(FLOOR(-ln((CAST(COALESCE(c2.c, 0) AS DOUBLE) + 1.0)
                              / (CAST(COALESCE(c1.cw, 0) AS DOUBLE)
                                 + v.vocab))
                          * 1000000) AS BIGINT) AS nll_e6
        FROM eval_bg e
        LEFT JOIN c2 ON c2.bigram = e.bigram
        LEFT JOIN c1 ON c1.w1 = e.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll_e6) AS BIGINT) AS nll_sum_e6,
           CAST(FLOOR(CAST(SUM(nll_e6) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS avg_nll_e6
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_holdout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SPLIT LM perplexity (round 10): train the bigram LM on
    the hash-stable train split, score ONLY the holdout docs with
    add-one (Laplace) smoothing — the generalization readout
    text_bigram_lm (which trains and scores on the same corpus)
    cannot give: memorized boilerplate scores well in-corpus but a
    holdout NLL that keeps dropping as the corpus grows is the signal
    the data actually generalizes.  This is the evaluation loop of
    classical LM corpus work (and the shape of every 'val loss'
    curve), assembled from the repo's own parts: split_train_holdout's
    md5-bucket discipline + text_bigram_lm's floored-NLL discipline +
    smoothing over the train vocab (unseen w1 backs off to 1/V —
    defined for every holdout bigram, no infinities).

    Exactness: train counts exact bigints; each holdout bigram TYPE's
    −ln((c+1)/(cw+V)) is one double chain floored e6; per-doc sums
    exact.

    Scale: train-side the text_bigram_lm plan; holdout side is 5% of
    docs joined against the broadcast-sized probability inputs; the
    vocab scalar is a 1-row broadcast."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    bucket = md5_int(F.col("doc_id").cast("string"), digits=7) % 1000
    split = docs.withColumn(
        "split", F.when(bucket < 50, "holdout").otherwise("train")
    )
    bg_expr = F.explode(
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> struct(t[i-1] AS w1, concat(t[i-1], ' ', t[i]) AS bigram))"
        )
    ).alias("x")
    train = split.filter(F.col("split") == "train")
    train_bg = train.select(bg_expr).select("x.w1", "x.bigram")
    c2 = train_bg.groupBy("w1", "bigram").agg(
        F.count("*").cast("bigint").alias("c")
    )
    c1 = c2.groupBy("w1").agg(F.sum("c").cast("bigint").alias("cw"))
    v = train.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").cast("bigint").alias("vocab")
    )
    eval_bg = (
        split.filter(F.col("split") == "holdout")
        .select("doc_id", bg_expr)
        .select("doc_id", "x.w1", "x.bigram")
    )
    scored = (
        eval_bg.join(F.broadcast(c2.select("bigram", "c")), "bigram", "left")
        .join(F.broadcast(c1), "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.floor(
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)).cast("double") + 1.0)
                    / (
                        F.coalesce(F.col("cw"), F.lit(0)).cast("double")
                        + F.col("vocab")
                    )
                )
                * 1000000
            )
            .cast("bigint")
            .alias("nll_e6"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("nll_e6").cast("bigint").alias("nll_sum_e6"),
        F.floor(F.sum("nll_e6").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("avg_nll_e6"),
    )


@query(
    "sample_temperature_mixture",
    """
    WITH src AS (
        SELECT source,
               CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ), powed AS (
        SELECT source, n_tokens,
               CAST(FLOOR(pow(CAST(n_tokens AS DOUBLE), 0.7)
                          * 1000000000) AS BIGINT) AS w_e9
        FROM src
    ), tot AS (
        SELECT CAST(SUM(w_e9) AS BIGINT) AS wt,
               CAST(COUNT(*) AS BIGINT) AS n_src
        FROM powed
    ), quota AS (
        SELECT p.source, p.n_tokens, p.w_e9,
               CAST(FLOOR(1000000.0 * p.w_e9 / t.wt) AS BIGINT)
                   AS floor_ppm,
               CAST(FLOOR((1000000.0 * p.w_e9 / t.wt
                           - FLOOR(1000000.0 * p.w_e9 / t.wt))
                          * 1000000000) AS BIGINT) AS rem
        FROM powed p CROSS JOIN tot t
    ), ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, source ASC)
                   AS rem_rank,
               CAST(1000000 - SUM(floor_ppm) OVER () AS BIGINT)
                   AS shortfall
        FROM quota
    )
    SELECT source, n_tokens, w_e9,
           CAST(floor_ppm + CASE WHEN rem_rank <= shortfall
                                 THEN 1 ELSE 0 END AS BIGINT)
               AS mix_ppm
    FROM ranked ORDER BY source
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED mixture weights (round 10), τ = 0.7: the
    multilingual/multi-source sampling standard (mT5, XLM-R,
    BLOOM) — raw proportional sampling (τ=1) drowns low-resource
    sources, uniform (τ=0) overfits them; p_i ∝ n_i^τ is the dial in
    between, and 0.7 is the published sweet spot.  Emits per-source
    parts-per-million mixture weights that SUM TO EXACTLY 1e6 via
    Hamilton largest-remainder (the corpus_token_budget_apportion /
    join_proportional_allocation discipline — a mixture table that
    doesn't sum to one is a silent budget leak).  Completes the
    mixture kit: token_budget_apportion (proportional budget),
    upsample_mixture (per-row replication), temperature (the
    BETWEEN-source policy those two execute).

    Exactness: each n^0.7 is ONE pow chain floored e9; the ppm quota
    and its remainder are one shared double chain per source (the
    exact-integer form 1e6·w_e9 DIV wt overflows int64 once corpus
    tokens pass ~1e8 — caught by this round's overflow audit; the
    double chain is identical in both engines and the Hamilton
    top-up still sums to exactly 1e6 because the floors and the
    shortfall are exact integers); the remainder rank pins on
    (rem DESC, source ASC).

    Scale: one token-count rollup + |sources|-row arithmetic — the
    policy table is dashboard-sized at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    powed = src.select(
        "source",
        "n_tokens",
        F.floor(F.pow(F.col("n_tokens").cast("double"), F.lit(0.7)) * 1e9)
        .cast("bigint")
        .alias("w_e9"),
    )
    tot = powed.agg(
        F.sum("w_e9").cast("bigint").alias("wt"),
        F.count("*").cast("bigint").alias("n_src"),
    )
    share = F.lit(1000000.0) * F.col("w_e9") / F.col("wt")
    quota = powed.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "w_e9",
        F.floor(share).cast("bigint").alias("floor_ppm"),
        F.floor((share - F.floor(share)) * 1000000000)
        .cast("bigint")
        .alias("rem"),
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    wall = Window.partitionBy()
    ranked = quota.select(
        "*",
        F.row_number().over(wr).alias("rem_rank"),
        (F.lit(1000000) - F.sum("floor_ppm").over(wall))
        .cast("bigint")
        .alias("shortfall"),
    )
    return ranked.select(
        "source",
        "n_tokens",
        "w_e9",
        (
            F.col("floor_ppm")
            + F.when(F.col("rem_rank") <= F.col("shortfall"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("mix_ppm"),
    ).orderBy("source")


@query(
    "text_doclen_lognormal_fit",
    """
    WITH logs AS (
        SELECT source,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(FLOOR(LN(CAST(n_chars AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS lnl_e9
        FROM documents WHERE n_chars > 0
    ), mom AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(lnl_e9) AS BIGINT) AS s,
               CAST(SUM((lnl_e9 // 1000) * (lnl_e9 // 1000) // 1000)
                    AS BIGINT) AS q_e9,
               CAST(quantile_disc(n_chars, 0.5) AS BIGINT)
                   AS actual_median_chars
        FROM logs GROUP BY 1
    )
    SELECT source, n_docs, actual_median_chars,
           CAST(s // n_docs AS BIGINT) AS mu_e9,
           CAST(FLOOR(CAST(q_e9 AS DOUBLE) / n_docs
                       - (CAST(s AS DOUBLE) / n_docs)
                         * (CAST(s AS DOUBLE) / n_docs)
                         / 1000000000.0) AS BIGINT) AS sigma2_e9,
           CAST(FLOOR(EXP(CAST(s // n_docs AS DOUBLE) / 1000000000.0))
                AS BIGINT) AS fitted_median_chars,
           CAST(FLOOR(CAST(quantile_disc(n_chars, 0.5) AS DOUBLE)
                      / FLOOR(EXP(CAST(s // n_docs AS DOUBLE)
                                  / 1000000000.0))
                      * 1000000) AS BIGINT) AS median_ratio_e6
    FROM logs JOIN mom USING (source)
    GROUP BY source, n_docs, s, q_e9, actual_median_chars
    ORDER BY source
    """,
)
def text_doclen_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOGNORMAL document-length fit per source (round 10): document
    lengths are the textbook lognormal, and (μ̂, σ̂²) of ln(length)
    are the two numbers corpus synthesis, chunk-size selection
    (text_chunk's budget math) and sampling-weight design actually
    consume.  The built-in FIT QUALITY readout is the ratio of the
    observed median to the fitted median e^μ̂ (lognormal's median is
    exactly e^μ) — a ratio far from 1 means a mixture or truncation
    (crawler caps, boilerplate floors) and the parametric shortcuts
    downstream are invalid for that source.

    Exactness: each ln(length) floors ONCE to e9 (per-doc single
    chain); μ̂ is an exact integer division of the floored sum; the
    second moment squares the e6 down-shift of each term ((lnl_e9
    DIV 1000)² DIV 1000 ≈ ln²·1e9 — the raw e9 square at ~8.5e19
    overflows int64 before any division, caught by the overflow
    audit; the shifted ladder stays under 4e17 at sf10); the fitted
    median applies exp to the identical quantized μ̂ in both
    engines.

    Scale: one map-side keyed aggregate over docs; everything
    downstream is |sources| rows."""
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    logs = docs.select(
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.floor(F.log(F.col("n_chars").cast("double")) * 1000000000)
        .cast("bigint")
        .alias("lnl_e9"),
    )
    mom = logs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("lnl_e9").cast("bigint").alias("s"),
        F.sum(F.expr("(lnl_e9 DIV 1000) * (lnl_e9 DIV 1000) DIV 1000"))
        .cast("bigint")
        .alias("q_e9"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
        .cast("bigint")
        .alias("actual_median_chars"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mu_e9 = F.expr("CAST(s DIV n_docs AS BIGINT)")
    fitted = F.floor(F.exp(mu_e9.cast("double") / 1e9)).cast("bigint")
    return mom.select(
        "source",
        "n_docs",
        "actual_median_chars",
        mu_e9.alias("mu_e9"),
        F.floor(
            d("q_e9") / d("n_docs")
            - (d("s") / d("n_docs")) * (d("s") / d("n_docs")) / 1e9
        )
        .cast("bigint")
        .alias("sigma2_e9"),
        fitted.alias("fitted_median_chars"),
        F.floor(d("actual_median_chars") / fitted * 1000000)
        .cast("bigint")
        .alias("median_ratio_e6"),
    ).orderBy("source")


@query(
    "text_term_burstiness",
    """
    WITH toks AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token
        FROM documents
    ), per_doc AS (
        SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ), ndocs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents
    ), term AS (
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(c) AS BIGINT) AS total_cnt,
               CAST(SUM(c * c) AS BIGINT) AS sum_sq
        FROM per_doc GROUP BY 1
    ), ranked AS (
        SELECT token, n_docs, total_cnt, sum_sq,
               row_number() OVER (ORDER BY total_cnt DESC, token ASC)
                   AS rnk
        FROM term
    )
    SELECT r.token, r.n_docs, r.total_cnt, CAST(r.rnk AS BIGINT) AS rnk,
           CAST(FLOOR(CAST(d.nd * r.sum_sq - r.total_cnt * r.total_cnt
                           AS DOUBLE)
                      / (CAST(d.nd AS DOUBLE)
                         * CAST(r.total_cnt AS DOUBLE))
                      * 1000000) AS BIGINT) AS fano_e6
    FROM ranked r, ndocs d WHERE r.rnk <= 20 ORDER BY r.rnk
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TERM BURSTINESS / FANO FACTOR (round 11) for the corpus's 20
    most frequent terms: var/mean of the per-document count
    (documents WITHOUT the term count as zeros).  Fano ≈ 1 means
    Poisson scatter (function words); Fano ≫ 1 means the term
    CLUMPS into few documents (content/topical words, boilerplate
    runs) — the Church-Gale burstiness diagnostic that tells a
    mixture-weights pipeline which terms are topic signals vs
    background, and flags template spam (huge Fano on odd tokens)
    before dedup even runs.

    Exactness: zeros enter through the identity var/mean =
    (N·Σc² − T²)/(N·T) over exact bigint counts — the
    document-zero rows are never materialized; ONE double chain
    floored e6.

    Scale: explode → two keyed aggregates (map-side); the top-20
    window runs over the term vocabulary (the text_keywords_topk
    shape); 20-row finish."""
    docs = load(spark, sf_dir, "documents")
    per_doc = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("token", "doc_id")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    ndocs = docs.agg(F.count("*").cast("bigint").alias("nd"))
    term = per_doc.groupBy("token").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("c").cast("bigint").alias("total_cnt"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
    )
    w = Window.orderBy(F.col("total_cnt").desc(), F.col("token").asc())
    ranked = term.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 20
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        ranked.crossJoin(F.broadcast(ndocs))
        .select(
            "token",
            "n_docs",
            "total_cnt",
            F.col("rnk").cast("bigint").alias("rnk"),
            F.floor(
                (
                    F.col("nd") * F.col("sum_sq")
                    - F.col("total_cnt") * F.col("total_cnt")
                ).cast("double")
                / (d("nd") * d("total_cnt"))
                * 1000000
            )
            .cast("bigint")
            .alias("fano_e6"),
        )
        .orderBy("rnk")
    )


@query(
    "text_log_odds_sources",
    """
    WITH srcs AS (
        SELECT MIN(source) AS s1,
               MIN(CASE WHEN source > (SELECT MIN(source) FROM documents)
                        THEN source END) AS s2
        FROM documents
    ), toks AS (
        SELECT d.source, unnest(str_split(d.text, ' ')) AS token
        FROM documents d, srcs
        WHERE d.source = srcs.s1 OR d.source = srcs.s2
    ), counts AS (
        SELECT token,
               CAST(COUNT(*) FILTER (source = (SELECT s1 FROM srcs))
                    AS BIGINT) AS y1,
               CAST(COUNT(*) FILTER (source = (SELECT s2 FROM srcs))
                    AS BIGINT) AS y2
        FROM toks GROUP BY 1
    ), tots AS (
        SELECT CAST(SUM(y1) AS BIGINT) AS n1,
               CAST(SUM(y2) AS BIGINT) AS n2,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM counts
    ), scored AS (
        SELECT c.token, c.y1, c.y2,
               CAST(FLOOR((LN((CAST(c.y1 AS DOUBLE) + 1.0)
                              / (CAST(t.n1 AS DOUBLE) + CAST(t.v AS DOUBLE)
                                 - CAST(c.y1 AS DOUBLE) - 1.0))
                           - LN((CAST(c.y2 AS DOUBLE) + 1.0)
                                / (CAST(t.n2 AS DOUBLE)
                                   + CAST(t.v AS DOUBLE)
                                   - CAST(c.y2 AS DOUBLE) - 1.0)))
                          / SQRT(1.0 / (CAST(c.y1 AS DOUBLE) + 1.0)
                                 + 1.0 / (CAST(c.y2 AS DOUBLE) + 1.0))
                          * 1000000) AS BIGINT) AS z_e6
        FROM counts c, tots t
    )
    SELECT token, y1, y2, z_e6, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT token, y1, y2, z_e6,
               row_number() OVER (ORDER BY ABS(z_e6) DESC, token ASC)
                   AS rnk
        FROM scored
    ) WHERE rnk <= 15 ORDER BY rnk
    """,
)
def text_log_odds_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONROE LOG-ODDS WITH DIRICHLET PRIOR (round 11) between the two
    lexicographically-first sources: per shared-vocabulary term,
    δ_w = ln((y₁+1)/(n₁+V−y₁−1)) − ln((y₂+1)/(n₂+V−y₂−1)) with the
    uniform α=1 prior, z = δ/√(1/(y₁+1)+1/(y₂+1)) — 'Fightin'
    Words': WHICH terms distinguish two corpus slices, with the
    variance correction that stops raw log-ratio lists being all
    hapaxes (the failure mode of naive tf-idf diffs).  Top-15 by |z|.
    Complements text_js_divergence (how far apart) and
    text_source_cross_entropy (how surprising) with WHO is
    responsible.

    Exactness: token counts exact bigints; each z is ONE double chain
    floored e6; the |z| ranking orders by the already-floored
    integer (never the raw double), so rank ties are impossible to
    disagree on.

    Scale: explode → keyed conditional counts (map-side); the top-15
    window runs over the shared vocabulary; 15-row finish."""
    docs = load(spark, sf_dir, "documents")
    s1 = docs.agg(F.min("source").alias("s1"))
    s2 = (
        docs.crossJoin(F.broadcast(s1))
        .filter(F.col("source") > F.col("s1"))
        .agg(F.min("source").alias("s2"))
    )
    srcs = s1.crossJoin(F.broadcast(s2))
    toks = (
        docs.crossJoin(F.broadcast(srcs))
        .filter(
            (F.col("source") == F.col("s1"))
            | (F.col("source") == F.col("s2"))
        )
        .select(
            "source",
            "s1",
            "s2",
            F.explode(F.split("text", " ")).alias("token"),
        )
    )
    counts = toks.groupBy("token").agg(
        F.count_if(F.col("source") == F.col("s1"))
        .cast("bigint")
        .alias("y1"),
        F.count_if(F.col("source") == F.col("s2"))
        .cast("bigint")
        .alias("y2"),
    )
    tots = counts.agg(
        F.sum("y1").cast("bigint").alias("n1"),
        F.sum("y2").cast("bigint").alias("n2"),
        F.count("*").cast("bigint").alias("v"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    delta = F.log(
        (d("y1") + 1.0) / (d("n1") + d("v") - d("y1") - 1.0)
    ) - F.log((d("y2") + 1.0) / (d("n2") + d("v") - d("y2") - 1.0))
    z = delta / F.sqrt(1.0 / (d("y1") + 1.0) + 1.0 / (d("y2") + 1.0))
    scored = counts.crossJoin(F.broadcast(tots)).select(
        "token",
        "y1",
        "y2",
        F.floor(z * 1000000).cast("bigint").alias("z_e6"),
    )
    w = Window.orderBy(F.abs(F.col("z_e6")).desc(), F.col("token").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 15)
        .select("token", "y1", "y2", "z_e6", F.col("rnk").cast("bigint").alias("rnk"))
        .orderBy("rnk")
    )


@query(
    "text_ccnet_perplexity_buckets",
    """
    WITH toks AS (
        SELECT doc_id, lang, unnest(str_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT token, COUNT(*) AS c FROM toks GROUP BY token
    ), total AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS n FROM counts
    ), probs AS (
        SELECT token,
               CAST(FLOOR(-ln(CAST(c AS DOUBLE) / (SELECT n FROM total))
                          * 1000000) AS BIGINT) AS nll_e6
        FROM counts
    ), scored AS (
        SELECT t.doc_id, t.lang,
               CAST(FLOOR(CAST(SUM(p.nll_e6) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS avg_nll_e6
        FROM toks t JOIN probs p USING (token)
        GROUP BY t.doc_id, t.lang
    ), cuts AS (
        SELECT lang,
               CAST(quantile_disc(avg_nll_e6, 0.3333333333333333)
                    AS BIGINT) AS c1,
               CAST(quantile_disc(avg_nll_e6, 0.6666666666666666)
                    AS BIGINT) AS c2
        FROM scored GROUP BY 1
    )
    SELECT s.lang,
           CASE WHEN s.avg_nll_e6 <= c.c1 THEN 'head'
                WHEN s.avg_nll_e6 <= c.c2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.avg_nll_e6) // COUNT(*) AS BIGINT) AS mean_nll_e6
    FROM scored s JOIN cuts c USING (lang)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def text_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNET HEAD/MIDDLE/TAIL BUCKETS (round 11): per language, cut
    the per-document average unigram NLL at the within-language
    discrete terciles and label docs head (most fluent third),
    middle, tail — the exact pipeline stage CCNet/CommonCrawl
    curation made standard (train on head, inspect middle, drop or
    re-weight tail), composed from this repo's own LM scoring
    (text_unigram_logprob conventions) and reference-frozen
    disc-quantile cuts (the agg_psi_drift discipline).  PER-LANGUAGE
    cuts matter: a global cut just reinvents language ID, the
    documented CCNet pitfall.

    Exactness: per-vocab-entry NLL floored e6 once, per-doc score an
    exact bigint fold + integer division; tercile cuts are discrete
    order statistics of those integers; bucket membership and the
    per-bucket means are pure integer programs.

    Scale: the text_unigram_logprob shape (vocab broadcast, doc-keyed
    agg) + one lang-keyed disc-quantile + broadcast cuts join —
    nothing new shuffles on more than (lang, doc)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    n_total = float(toks.count())
    probs = counts.select(
        "token",
        F.floor(-F.log(F.col("c").cast("double") / F.lit(n_total)) * 1000000)
        .cast("bigint")
        .alias("nll_e6"),
    )
    scored = (
        toks.join(F.broadcast(probs), "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.floor(F.sum("nll_e6").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("avg_nll_e6")
        )
    )
    cuts = scored.groupBy("lang").agg(
        F.expr(
            "percentile_disc(0.3333333333333333) WITHIN GROUP (ORDER BY avg_nll_e6)"
        )
        .cast("bigint")
        .alias("c1"),
        F.expr(
            "percentile_disc(0.6666666666666666) WITHIN GROUP (ORDER BY avg_nll_e6)"
        )
        .cast("bigint")
        .alias("c2"),
    )
    bucket = (
        F.when(F.col("avg_nll_e6") <= F.col("c1"), "head")
        .when(F.col("avg_nll_e6") <= F.col("c2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            # exact int64 DIV matching the oracle's `//` (ADVICE r11)
            F.expr(
                "CAST(sum(avg_nll_e6) DIV count(*) AS BIGINT)"
            ).alias("mean_nll_e6"),
        )
        .orderBy("lang", "bucket")
    )


@query(
    "sample_domain_cap",
    """
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY doc_id ASC) AS rnk
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (rnk <= 25) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (rnk > 25) AS BIGINT) AS n_capped,
           CAST(SUM(n_chars) FILTER (rnk <= 25) AS BIGINT) AS kept_chars
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOMAIN DOCUMENT CAP (round 11): keep at most 25 documents
    per source (deterministic keep = lowest doc_id) and ledger what
    the cap removed — the Gopher/RefinedWeb-style domain-capping
    stage that stops one crawler-friendly site from dominating the
    mixture BEFORE temperature sampling even runs
    (sample_temperature_mixture reweights sources; this bounds the
    raw supply a single source can offer it).  The kept_chars column
    is the post-cap token-budget input.

    Exactness: keyed rank with a total order (doc_id), exact counts
    and char sums — a pure integer program.

    Scale: one keyed window partitioned by source (never global) +
    one keyed rollup on the SAME key (the aggregate reuses the
    window's hash partitioning — one exchange total, plan-pinned).
    Note this census deliberately ranks EVERY row (the removal
    ledger needs the beyond-cap counts), so the WindowGroupLimit
    shortcut of a pure keep-top-k materialization does not apply;
    the keep-only variant would add .filter(rnk <= 25) and get it."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("doc_id").asc())
    ranked = docs.select(
        "source", "doc_id", "n_chars", F.row_number().over(w).alias("rnk")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_if(F.col("rnk") <= 25).cast("bigint").alias("n_kept"),
            F.count_if(F.col("rnk") > 25).cast("bigint").alias("n_capped"),
            F.sum(F.when(F.col("rnk") <= 25, F.col("n_chars")))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


@query(
    "sample_epoch_cap_schedule",
    """
    WITH src AS (
        SELECT source, CAST(SUM(n_chars) // 4 AS BIGINT) AS toks
        FROM documents GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(toks) AS BIGINT) AS t, CAST(SUM(toks) * 3 AS BIGINT) AS b
        FROM src
    ), r1 AS (
        SELECT s.source, s.toks,
               LEAST(t.b * s.toks // t.t, s.toks * 4) AS a1,
               CAST(s.toks * 4 AS BIGINT) AS cap
        FROM src s, tot t
    ), pools AS (
        SELECT CAST((SELECT b FROM tot) - SUM(a1) AS BIGINT) AS leftover,
               CAST(SUM(CASE WHEN a1 < cap THEN toks END) AS BIGINT)
                   AS open_toks
        FROM r1
    )
    SELECT r.source, r.toks, r.cap, CAST(r.a1 AS BIGINT) AS alloc_prop,
           CAST(LEAST(r.a1 + CASE WHEN r.a1 < r.cap AND p.open_toks > 0
                      THEN p.leftover * r.toks // p.open_toks
                      ELSE 0 END, r.cap) AS BIGINT) AS alloc_final,
           CAST(LEAST(r.a1 + CASE WHEN r.a1 < r.cap AND p.open_toks > 0
                      THEN p.leftover * r.toks // p.open_toks
                      ELSE 0 END, r.cap) * 100 // r.toks AS BIGINT)
               AS epochs_e2,
           r.a1 >= r.cap AS capped_round1
    FROM r1 r, pools p ORDER BY r.source
    """,
)
def sample_epoch_cap_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-CAPPED MIXTURE SCHEDULE (round 11): allocate a 3×-corpus
    token budget across sources proportionally, but cap every source
    at 4 epochs (the repetition ceiling the data-constrained-scaling
    literature — Muennighoff et al. — says you can repeat before
    returns collapse), then redistribute the capped sources'
    unclaimed budget to the open ones in ONE documented pass (a
    second redistribution can re-cap; the residual slack after one
    pass is visible as Σ(final) < budget and is the scheduler's
    honest remainder).  corpus_token_budget_apportion answers 'split
    a budget fairly'; this answers the pretraining question 'split
    it fairly WITHOUT over-repeating any source' — epochs_e2 per
    source is the readout a mixture config actually consumes.

    Exactness: token counts, caps, both allocation passes, and the
    epoch ratios are pure bigint arithmetic (integer division at
    every step — Hamilton-style exactness discipline).

    Scale: one keyed rollup + two 1-row broadcasts; |sources|-row
    finish."""
    docs = load(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        # exact int64 DIV matching the oracle's `//` (ADVICE r11)
        F.expr("CAST(sum(n_chars) DIV 4 AS BIGINT)").alias("toks")
    )
    tot = src.agg(
        F.sum("toks").cast("bigint").alias("t"),
        (F.sum("toks") * 3).cast("bigint").alias("b"),
    )
    r1 = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        F.least(
            F.expr("CAST(b * toks DIV t AS BIGINT)"),
            (F.col("toks") * 4).cast("bigint"),
        ).alias("a1"),
        (F.col("toks") * 4).cast("bigint").alias("cap"),
        "b",
    )
    pools = r1.agg(
        (F.max("b") - F.sum("a1")).cast("bigint").alias("leftover"),
        F.sum(F.when(F.col("a1") < F.col("cap"), F.col("toks")))
        .cast("bigint")
        .alias("open_toks"),
    )
    topup = F.when(
        (F.col("a1") < F.col("cap")) & (F.col("open_toks") > 0),
        F.expr("CAST(leftover * toks DIV open_toks AS BIGINT)"),
    ).otherwise(F.lit(0).cast("bigint"))
    final = F.least(F.col("a1") + topup, F.col("cap")).cast("bigint")
    return (
        r1.crossJoin(F.broadcast(pools))
        .select(
            "source",
            "toks",
            "cap",
            F.col("a1").cast("bigint").alias("alloc_prop"),
            final.alias("alloc_final"),
            F.expr(
                "CAST(least(a1 + CASE WHEN a1 < cap AND open_toks > 0"
                " THEN leftover * toks DIV open_toks ELSE 0 END, cap)"
                " * 100 DIV toks AS BIGINT)"
            ).alias("epochs_e2"),
            (F.col("a1") >= F.col("cap")).alias("capped_round1"),
        )
        .orderBy("source")
    )


@query(
    "text_weighted_jaccard_sources",
    """
    WITH srcs AS (
        SELECT MIN(source) AS s1,
               MIN(CASE WHEN source > (SELECT MIN(source) FROM documents)
                        THEN source END) AS s2
        FROM documents
    ), toks AS (
        SELECT d.source, unnest(str_split(d.text, ' ')) AS token
        FROM documents d, srcs
        WHERE d.source = srcs.s1 OR d.source = srcs.s2
    ), counts AS (
        SELECT token,
               CAST(COUNT(*) FILTER (source = (SELECT s1 FROM srcs))
                    AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (source = (SELECT s2 FROM srcs))
                    AS BIGINT) AS c2
        FROM toks GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(LEAST(c1, c2)) AS BIGINT) AS sum_min,
           CAST(SUM(GREATEST(c1, c2)) AS BIGINT) AS sum_max,
           CAST(SUM(LEAST(c1, c2)) * 1000000 // SUM(GREATEST(c1, c2))
                AS BIGINT) AS weighted_jaccard_e6
    FROM counts
    """,
)
def text_weighted_jaccard_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED (RUZICKA) JACCARD between the two first sources'
    term-frequency vectors (round 11): Σ min(c₁,c₂) / Σ max(c₁,c₂) —
    the count-aware overlap that set-Jaccard throws away (two sources
    can share every TYPE yet have wildly different usage RATES; this
    is the metric that sees it).  Slots between
    text_vocab_overlap_sources (type-level) and text_js_divergence
    (distribution-level): same explode+conditional-count shape, a
    different and standard readout (the min-hash-able Ruzicka
    similarity underlying weighted MinHash).

    Exactness: counts, min/max sums, and the ratio are pure bigint
    arithmetic — exact integer division, no floats at all.

    Scale: explode → one keyed conditional-count aggregate →
    1-row fold."""
    docs = load(spark, sf_dir, "documents")
    s1 = docs.agg(F.min("source").alias("s1"))
    s2 = (
        docs.crossJoin(F.broadcast(s1))
        .filter(F.col("source") > F.col("s1"))
        .agg(F.min("source").alias("s2"))
    )
    srcs = s1.crossJoin(F.broadcast(s2))
    counts = (
        docs.crossJoin(F.broadcast(srcs))
        .filter(
            (F.col("source") == F.col("s1"))
            | (F.col("source") == F.col("s2"))
        )
        .select(
            "source",
            "s1",
            "s2",
            F.explode(F.split("text", " ")).alias("token"),
        )
        .groupBy("token")
        .agg(
            F.count_if(F.col("source") == F.col("s1"))
            .cast("bigint")
            .alias("c1"),
            F.count_if(F.col("source") == F.col("s2"))
            .cast("bigint")
            .alias("c2"),
        )
    )
    return counts.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum(F.least("c1", "c2")).cast("bigint").alias("sum_min"),
        F.sum(F.greatest("c1", "c2")).cast("bigint").alias("sum_max"),
        # exact int64 DIV matching the oracle's `//` (ADVICE r11)
        F.expr(
            "CAST(sum(least(c1, c2)) * 1000000"
            " DIV sum(greatest(c1, c2)) AS BIGINT)"
        ).alias("weighted_jaccard_e6"),
    )


@query(
    "text_bigram_entropy_rate",
    """
    WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS ws FROM documents
    ), bigrams AS (
        SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
        FROM toks, LATERAL unnest(range(1, len(ws))) AS t(i)
    ), pair_c AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM bigrams GROUP BY 1, 2
    ), left_c AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM pair_c GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c12) AS BIGINT) AS n FROM pair_c
    ), terms AS (
        SELECT p.c12,
               CAST(FLOOR(CAST(p.c12 AS DOUBLE)
                          * LN(CAST(l.c1 AS DOUBLE) / p.c12)
                          * 1000000) AS BIGINT) AS term_e6
        FROM pair_c p JOIN left_c l USING (w1)
    )
    SELECT t.n AS n_bigrams,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pair_c) AS n_pair_types,
           CAST(SUM(term_e6) // t.n AS BIGINT) AS cond_entropy_e6
    FROM terms, tot t GROUP BY t.n
    """,
)
def text_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM ENTROPY RATE (round 11): H(w₂|w₁) = Σ p(w₁,w₂)·
    ln(c(w₁)/c(w₁,w₂)) — how predictable the NEXT word is given the
    current one, the first-order entropy-rate estimate of the corpus
    (Shannon's game at n=2).  The unigram entropy ceiling minus this
    is exactly the average mutual information text_pmi reports
    pairwise; a corpus whose entropy rate is far below its unigram
    entropy is template-heavy (boilerplate detection at the language
    level), and the readout is the floor a bigram LM's perplexity
    (text_bigram_lm) can reach — ships as its diagnostic twin.

    Exactness: bigram and left-context counts exact; each pair's
    c₁₂·ln(c₁/c₁₂) floors e6 BEFORE the order-free bigint sum; the
    rate is exact integer division by total bigrams.

    Scale: one in-doc adjacency explode (narrow — pairs never cross
    documents, so no self-join), two keyed aggregates, 1-row
    finish."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    bigrams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(ws, 1, F.size(ws) - 1),
                F.slice(ws, 2, F.size(ws) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    pair_c = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12")
    )
    left_c = pair_c.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1")
    )
    tot = pair_c.agg(
        F.sum("c12").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_pair_types"),
    )
    terms = pair_c.join(left_c, "w1").select(
        F.floor(
            F.col("c12").cast("double")
            * F.log(F.col("c1").cast("double") / F.col("c12").cast("double"))
            * 1000000
        )
        .cast("bigint")
        .alias("term_e6")
    )
    folded = terms.agg(F.sum("term_e6").cast("bigint").alias("s"))
    return folded.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_bigrams"),
        "n_pair_types",
        # exact int64 DIV matching the oracle's `//` (ADVICE r11)
        F.expr("CAST(s DIV n AS BIGINT)").alias("cond_entropy_e6"),
    )


@query(
    "text_template_slot_profile",
    """
    WITH toks AS (
        SELECT source, doc_id,
               CAST(i AS BIGINT) AS pos,
               str_split(text, ' ')[CAST(i AS INT)] AS token
        FROM documents, LATERAL unnest(range(1, 11)) AS t(i)
        WHERE len(str_split(text, ' ')) >= 10
    ), counts AS (
        SELECT source, pos, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2, 3
    ), tot AS (
        SELECT source, pos,
               CAST(SUM(c) AS BIGINT) AS n_docs,
               CAST(MAX(c) AS BIGINT) AS top_c,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM counts GROUP BY 1, 2
    )
    SELECT source, pos, n_docs, n_distinct,
           CAST(top_c * 1000000 // n_docs AS BIGINT) AS top_share_e6,
           top_c * 10 >= n_docs * 9 AS is_slot
    FROM tot ORDER BY source, pos
    """,
)
def text_template_slot_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEMPLATE-SLOT PROFILE (round 11): for each source, how
    concentrated is the token at each of the first 10 positions
    across its documents — a position where ≥90% of docs carry the
    SAME token is a template slot (machine-generated boilerplate
    structure), and a source whose leading positions are all slots
    is a template farm.  The POSITIONAL view of boilerplate that
    text_boilerplate_share (line-hash mass) and text_term_burstiness
    (corpus-level clumping) cannot see: those detect repeated
    content, this detects repeated STRUCTURE with varying fill.

    Exactness: positional token counts exact; top-share is exact
    integer division; the slot flag is the cleared integer compare
    top·10 ≥ n·9 (never a float threshold).

    Scale: a bounded 10-position explode (narrow) → two keyed
    aggregates — |sources|×10-row finish."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    toks = (
        docs.filter(F.size(ws) >= 10)
        .select(
            "source",
            "doc_id",
            F.posexplode(F.slice(ws, 1, 10)).alias("pos0", "token"),
        )
        .select(
            "source",
            "doc_id",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            "token",
        )
    )
    counts = toks.groupBy("source", "pos", "token").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = counts.groupBy("source", "pos").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.max("c").cast("bigint").alias("top_c"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    return tot.select(
        "source",
        "pos",
        "n_docs",
        "n_distinct",
        # exact int64 DIV matching the oracle's `//` (ADVICE r11)
        F.expr("CAST(top_c * 1000000 DIV n_docs AS BIGINT)").alias(
            "top_share_e6"
        ),
        (F.col("top_c") * 10 >= F.col("n_docs") * 9).alias("is_slot"),
    ).orderBy("source", "pos")

@query(
    "text_ttr_by_length_band",
    """
    WITH d AS (
        SELECT source, str_split(text, ' ') AS ws
        FROM documents
    ), per_doc AS (
        SELECT source,
               CAST(len(ws) AS BIGINT) AS n_tok,
               CAST(FLOOR(LOG2(len(ws))) AS BIGINT) AS band,
               CAST(len(list_distinct(ws)) * 1000000 // len(ws)
                    AS BIGINT) AS ttr_e6
        FROM d WHERE len(ws) >= 1
    )
    SELECT source, band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) // COUNT(*) AS BIGINT) AS mean_tokens,
           CAST(SUM(ttr_e6) // COUNT(*) AS BIGINT) AS mean_ttr_e6
    FROM per_doc GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def text_ttr_by_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-TOKEN RATIO by log₂ length band per source (round 12):
    lexical diversity NORMALIZED FOR LENGTH — raw TTR falls
    mechanically as documents grow (Herdan/Heaps), so a single
    corpus-wide TTR conflates 'short docs' with 'diverse docs'; the
    banded curve compares like with like, and a source whose curve
    sits below its peers AT THE SAME LENGTH is template/spam-heavy in
    a way text_repetition_filter's within-doc bigram rule and
    vocab_coverage's corpus vocab mass both miss (a source can pass
    both while recycling a small vocabulary across medium docs).

    Exactness: token/type counts exact integers from narrow array
    ops; per-doc TTR is integer DIV e6; band floors are safe (only
    exact powers of two sit on log₂ boundaries, exact in IEEE on both
    engines); band means are integer DIV over exact sums.

    Scale: fully narrow per-row array math + one keyed (source, band)
    rollup — band domain ≤ 64, rides the shared quality scan."""
    d = load(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("ws")
    )
    ws = F.col("ws")
    per_doc = d.filter(F.size(ws) >= 1).select(
        "source",
        F.size(ws).cast("bigint").alias("n_tok"),
        F.floor(F.log2(F.size(ws).cast("double")))
        .cast("bigint")
        .alias("band"),
        F.expr(
            "CAST(size(array_distinct(ws)) * 1000000"
            " DIV size(ws) AS BIGINT)"
        ).alias("ttr_e6"),
    )
    return (
        per_doc.groupBy("source", "band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.expr("CAST(sum(n_tok) DIV count(*) AS BIGINT)").alias(
                "mean_tokens"
            ),
            F.expr("CAST(sum(ttr_e6) DIV count(*) AS BIGINT)").alias(
                "mean_ttr_e6"
            ),
        )
        .orderBy("source", "band")
    )


@query(
    "text_rater_agreement_krippendorff",
    """
    WITH rated AS (
        SELECT
            CASE WHEN n_chars < 200 THEN 0
                 WHEN n_chars < 500 THEN 1 ELSE 2 END AS r_a,
            CASE WHEN len(str_split(text, ' ')) < 40 THEN 0
                 WHEN len(str_split(text, ' ')) < 100 THEN 1
                 ELSE 2 END AS r_b,
            CASE WHEN n_chars
                      + CAST(CAST('0x' || substr(md5(CAST(doc_id
                                 AS VARCHAR)), 1, 2) AS BIGINT) - 128
                             AS BIGINT) < 200 THEN 0
                 WHEN n_chars
                      + CAST(CAST('0x' || substr(md5(CAST(doc_id
                                 AS VARCHAR)), 1, 2) AS BIGINT) - 128
                             AS BIGINT) < 500 THEN 1
                 ELSE 2 END AS r_c
        FROM documents
    ), counts AS (
        SELECT CAST((r_a = 0)::INT + (r_b = 0)::INT + (r_c = 0)::INT
                    AS BIGINT) AS n0,
               CAST((r_a = 1)::INT + (r_b = 1)::INT + (r_c = 1)::INT
                    AS BIGINT) AS n1,
               CAST((r_a = 2)::INT + (r_b = 2)::INT + (r_c = 2)::INT
                    AS BIGINT) AS n2
        FROM rated
    ), cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(3 - (n0 * (n0 - 1) + n1 * (n1 - 1)
                             + n2 * (n2 - 1)) / 2) AS BIGINT) AS sdis,
               CAST(SUM(n0) AS BIGINT) AS m0,
               CAST(SUM(n1) AS BIGINT) AS m1,
               CAST(SUM(n2) AS BIGINT) AS m2
        FROM counts
    )
    SELECT n_units, sdis, m0, m1, m2,
           CAST(FLOOR(CAST(sdis AS DOUBLE) / (3 * n_units)
                      * 1000000000) AS BIGINT) AS do_e9,
           CAST(FLOOR((CAST(3 * n_units AS DOUBLE) * (3 * n_units)
                       - (CAST(m0 AS DOUBLE) * m0
                          + CAST(m1 AS DOUBLE) * m1
                          + CAST(m2 AS DOUBLE) * m2))
                      / (CAST(3 * n_units AS DOUBLE)
                         * (3 * n_units - 1))
                      * 1000000000) AS BIGINT) AS de_e9,
           CAST(FLOOR((1.0 - (CAST(sdis AS DOUBLE) / (3 * n_units))
                             / ((CAST(3 * n_units AS DOUBLE)
                                 * (3 * n_units)
                                 - (CAST(m0 AS DOUBLE) * m0
                                    + CAST(m1 AS DOUBLE) * m1
                                    + CAST(m2 AS DOUBLE) * m2))
                                / (CAST(3 * n_units AS DOUBLE)
                                   * (3 * n_units - 1))))
                      * 1000000) AS BIGINT) AS alpha_e6
    FROM cells
    """,
)
def text_rater_agreement_krippendorff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KRIPPENDORFF'S ALPHA, nominal metric (round 12 cont.), over
    the SAME three deterministic quality raters as
    text_rater_agreement_fleiss — the reliability coefficient content
    analysis standardized on: alpha = 1 − Do/De with De computed from
    the POOLED value distribution with the (n−1) small-sample
    correction, where Fleiss' chance model uses per-category
    products.  On big N the two converge; the referee asserts both
    the convergence and the exact disagreement identities.

    Exactness: per-unit category counts are exact ints, so
    disagreeing pairs per unit = 3 − ΣC(n_k,2) is exact (the /2 is an
    even integer's halving — exact in both engines); Do, De and alpha
    are double chains floored e9/e9/e6 written identically (the
    margin squares stay < 2^53 through sf10: m_k ≤ 3·|docs| ≈ 4e7,
    squared ≈ 1.6e15 — cast double BEFORE the multiply both sides).

    Scale: one corpus pass (three CASE raters, 5-integer global
    fold) — map-side combinable, 1-row finish; no shuffle beyond the
    final readout."""
    docs = load(spark, sf_dir, "documents")
    jitter = md5_int(F.col("doc_id").cast("string"), digits=2) - 128
    n_tok = F.size(F.split("text", " "))

    def tercile(x, lo, hi):
        return F.when(x < lo, 0).when(x < hi, 1).otherwise(2)

    rated = docs.select(
        tercile(F.col("n_chars"), F.lit(200), F.lit(500)).alias("r_a"),
        tercile(n_tok, F.lit(40), F.lit(100)).alias("r_b"),
        tercile(F.col("n_chars") + jitter, F.lit(200), F.lit(500)).alias(
            "r_c"
        ),
    )
    cnt = lambda k: (  # noqa: E731
        (F.col("r_a") == k).cast("bigint")
        + (F.col("r_b") == k).cast("bigint")
        + (F.col("r_c") == k).cast("bigint")
    )
    counts = rated.select(
        cnt(0).alias("n0"), cnt(1).alias("n1"), cnt(2).alias("n2")
    )
    pairs_agree = (
        F.col("n0") * (F.col("n0") - 1)
        + F.col("n1") * (F.col("n1") - 1)
        + F.col("n2") * (F.col("n2") - 1)
    ) / 2
    cells = counts.agg(
        F.count("*").cast("bigint").alias("n_units"),
        F.sum(F.lit(3) - pairs_agree).cast("bigint").alias("sdis"),
        F.sum("n0").cast("bigint").alias("m0"),
        F.sum("n1").cast("bigint").alias("m1"),
        F.sum("n2").cast("bigint").alias("m2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nv = 3 * F.col("n_units")
    do = d("sdis") / nv
    de = (
        nv.cast("double") * nv
        - (d("m0") * F.col("m0") + d("m1") * F.col("m1") + d("m2") * F.col("m2"))
    ) / (nv.cast("double") * (nv - 1))
    return cells.select(
        "n_units",
        "sdis",
        "m0",
        "m1",
        "m2",
        F.floor(do * 1000000000).cast("bigint").alias("do_e9"),
        F.floor(de * 1000000000).cast("bigint").alias("de_e9"),
        F.floor((1.0 - do / de) * 1000000).cast("bigint").alias(
            "alpha_e6"
        ),
    )


@query(
    "text_model_brier_decomposition",
    f"""
    WITH scored AS ({_SCORED_SQL}
    ), cells AS (
        SELECT s_e6 // 100000 AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_k,
               CAST(SUM(label) AS BIGINT) AS s1_k,
               CAST(SUM(s_e6) AS BIGINT) AS sf_k
        FROM scored GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n_k) AS BIGINT) AS n,
               CAST(SUM(s1_k) AS BIGINT) AS n1
        FROM cells
    ), terms AS (
        SELECT n, n1,
               CAST(FLOOR(n_k * ((CAST(sf_k AS DOUBLE) / n_k
                                  - CAST(s1_k AS DOUBLE) / n_k * 1000000)
                                 * (CAST(sf_k AS DOUBLE) / n_k
                                    - CAST(s1_k AS DOUBLE) / n_k
                                      * 1000000))) AS BIGINT) AS rel_k,
               CAST(FLOOR(n_k * ((CAST(s1_k AS DOUBLE) / n_k * 1000000
                                  - CAST(n1 AS DOUBLE) / n * 1000000)
                                 * (CAST(s1_k AS DOUBLE) / n_k * 1000000
                                    - CAST(n1 AS DOUBLE) / n
                                      * 1000000))) AS BIGINT) AS res_k
        FROM cells, tot
    ), folded AS (
        SELECT MAX(n) AS n, MAX(n1) AS n1,
               CAST(SUM(rel_k) AS BIGINT) AS rel_sum,
               CAST(SUM(res_k) AS BIGINT) AS res_sum
        FROM terms
    ), brier AS (
        SELECT CAST(SUM((s_e6 - label * 1000000)
                        * (s_e6 - label * 1000000)) AS HUGEINT) AS ss
        FROM scored
    )
    SELECT n, n1,
           CAST(FLOOR(CAST(rel_sum AS DOUBLE) / n) AS BIGINT)
               AS reliability_e12,
           CAST(FLOOR(CAST(res_sum AS DOUBLE) / n) AS BIGINT)
               AS resolution_e12,
           CAST(FLOOR((CAST(n1 AS DOUBLE) / n)
                      * (1.0 - CAST(n1 AS DOUBLE) / n)
                      * 1000000000000) AS BIGINT) AS uncertainty_e12,
           CAST(FLOOR(CAST(ss AS DOUBLE) / n) AS BIGINT) AS brier_e12
    FROM folded, brier
    """,
)
def text_model_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MURPHY DECOMPOSITION of the quality classifier's Brier score
    (round 12 cont.): reliability (calibration gap per forecast
    decile), resolution (how far bin outcome rates spread from the
    base rate — the part worth paying for), and uncertainty (the
    irreducible ō(1−ō)) — the three-way diagnosis text_model_brier's
    single number cannot give: a high Brier from mushy resolution
    needs a better model, one from bad reliability just needs
    recalibration (text_model_calibration_ece's fix).  Binned REL −
    RES + UNC approximates Brier up to within-bin forecast variance
    (referee-bounded in tests).

    Exactness: the scored lane is the shared _auc_scored formula
    (one double sigmoid floored e6); decile cells are exact bigints;
    each bin's REL/RES term evaluates in ONE double expression
    floored BEFORE the order-free bigint sum (terms ≤ n_k·1e12 so
    the sums stay inside int64 through sf10); Brier's Σd² runs in
    HUGEINT/decimal(38,0) (the text_model_brier discipline); the
    four readouts each floor one double division.

    Scale: one corpus pass to 10 decile cells + a 1-row totals
    anchor; the Brier fold is the same map-side-combinable global
    aggregate as text_model_brier."""
    scored = _auc_scored(spark, sf_dir)
    cells = scored.groupBy(
        F.expr("s_e6 DIV 100000").alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n_k"),
        F.sum("label").cast("bigint").alias("s1_k"),
        F.sum("s_e6").cast("bigint").alias("sf_k"),
    )
    tot = cells.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("s1_k").cast("bigint").alias("n1"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fbar_minus_obar = (
        d("sf_k") / F.col("n_k") - d("s1_k") / F.col("n_k") * 1000000
    )
    obar_minus_base = (
        d("s1_k") / F.col("n_k") * 1000000 - d("n1") / F.col("n") * 1000000
    )
    terms = j.select(
        "n",
        "n1",
        F.floor(F.col("n_k") * (fbar_minus_obar * fbar_minus_obar))
        .cast("bigint")
        .alias("rel_k"),
        F.floor(F.col("n_k") * (obar_minus_base * obar_minus_base))
        .cast("bigint")
        .alias("res_k"),
    )
    folded = terms.agg(
        F.max("n").alias("n"),
        F.max("n1").alias("n1"),
        F.sum("rel_k").cast("bigint").alias("rel_sum"),
        F.sum("res_k").cast("bigint").alias("res_sum"),
    )
    dd = (F.col("s_e6") - F.col("label") * 1000000).cast("decimal(38,0)")
    brier = scored.agg(F.sum(dd * dd).alias("ss"))
    out = folded.crossJoin(F.broadcast(brier))
    return out.select(
        "n",
        "n1",
        F.floor(F.col("rel_sum").cast("double") / F.col("n"))
        .cast("bigint")
        .alias("reliability_e12"),
        F.floor(F.col("res_sum").cast("double") / F.col("n"))
        .cast("bigint")
        .alias("resolution_e12"),
        F.floor(
            (d("n1") / F.col("n"))
            * (1.0 - d("n1") / F.col("n"))
            * 1000000000000
        )
        .cast("bigint")
        .alias("uncertainty_e12"),
        F.floor(F.col("ss").cast("double") / F.col("n"))
        .cast("bigint")
        .alias("brier_e12"),
    )


@query(
    "text_model_youden_cutpoint",
    f"""
    WITH scored AS ({_SCORED_SQL}
    ), atoms AS (
        SELECT s_e6,
               CAST(SUM(label) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_neg
        FROM scored GROUP BY s_e6
    ), sweep AS (
        SELECT s_e6,
               CAST(SUM(n_pos) OVER w AS BIGINT) AS tp,
               CAST(SUM(n_neg) OVER w AS BIGINT) AS fp,
               CAST(SUM(n_pos) OVER () AS BIGINT) AS p,
               CAST(SUM(n_neg) OVER () AS BIGINT) AS n
        FROM atoms
        WINDOW w AS (ORDER BY s_e6 DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT s_e6 AS threshold_e6, tp, fp, p, n,
           CAST((tp * 1000000) // p AS BIGINT) AS tpr_e6,
           CAST((fp * 1000000) // n AS BIGINT) AS fpr_e6,
           CAST(FLOOR((CAST(tp AS DOUBLE) * n - CAST(fp AS DOUBLE) * p)
                      / (CAST(p AS DOUBLE) * n) * 1000000) AS BIGINT)
               AS youden_j_e6
    FROM sweep
    ORDER BY (tp * n - fp * p) DESC, s_e6 ASC
    LIMIT 1
    """,
)
def text_model_youden_cutpoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """YOUDEN-J OPTIMAL CUTPOINT of the quality classifier (round 12
    cont.): the threshold maximizing J = TPR − FPR over the full ROC
    sweep — the number that turns the model-eval family's curves
    (AUC ranks, ECE calibrates, Brier scores) into the OPERATING
    POINT a filtering pipeline actually deploys; J at the optimum is
    also the maximum balanced-accuracy gain over chance.

    Exactness: the argmax runs on the EXACT integer J numerator
    tp·N − fp·P (≤ ~3.6e13 at sf10 — int64 safe; the e6 readouts
    floor one double chain since numerator·1e6 would overflow);
    tie-break is (J desc, threshold asc) — fully deterministic;
    TPR/FPR are exact integer divisions.

    Scale: one corpus pass to score atoms (bounded by the e6 value
    domain, the histogram-AUC discipline), a pre-reduced ordered
    sweep over atoms, LIMIT 1."""
    scored = _auc_scored(spark, sf_dir)
    atoms = scored.groupBy("s_e6").agg(
        F.sum("label").cast("bigint").alias("n_pos"),
        (F.count("*") - F.sum("label")).cast("bigint").alias("n_neg"),
    )
    w = (
        Window.orderBy(F.col("s_e6").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy()
    sweep = atoms.select(
        "s_e6",
        F.sum("n_pos").over(w).cast("bigint").alias("tp"),
        F.sum("n_neg").over(w).cast("bigint").alias("fp"),
        F.sum("n_pos").over(w_all).cast("bigint").alias("p"),
        F.sum("n_neg").over(w_all).cast("bigint").alias("n"),
    )
    return (
        sweep.select(
            F.col("s_e6").alias("threshold_e6"),
            "tp",
            "fp",
            "p",
            "n",
            F.expr("(tp * 1000000) DIV p").alias("tpr_e6"),
            F.expr("(fp * 1000000) DIV n").alias("fpr_e6"),
            F.floor(
                (
                    F.col("tp").cast("double") * F.col("n")
                    - F.col("fp").cast("double") * F.col("p")
                )
                / (F.col("p").cast("double") * F.col("n"))
                * 1000000
            )
            .cast("bigint")
            .alias("youden_j_e6"),
        )
        .orderBy(
            (F.col("tp") * F.col("n") - F.col("fp") * F.col("p")).desc(),
            F.col("threshold_e6").asc(),
        )
        .limit(1)
    )


@query(
    "text_burrows_delta",
    """
    WITH toks AS (
        SELECT source, unnest(str_split(text, ' ')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE tok <> ''
        GROUP BY tok
        ORDER BY c DESC, tok ASC
        LIMIT 20
    ), src_tot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM toks WHERE tok <> '' GROUP BY source
    ), freq AS (
        SELECT s.source, v.tok,
               CAST((CAST(COALESCE(f.c, 0) AS BIGINT) * 1000000000)
                    // s.n_tok AS BIGINT) AS f_e9
        FROM src_tot s
        CROSS JOIN vocab v
        LEFT JOIN (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY source, tok
        ) f ON f.source = s.source AND f.tok = v.tok
    ), stats AS (
        SELECT tok,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(f_e9) AS BIGINT) AS sf,
               CAST(SUM(f_e9 * f_e9) AS BIGINT) AS sff
        FROM freq GROUP BY tok
    ), z AS (
        SELECT f.source, f.tok,
               (CAST(f.f_e9 AS DOUBLE) - CAST(s.sf AS DOUBLE) / s.k)
               / SQRT((CAST(s.sff AS DOUBLE)
                       - CAST(s.sf AS DOUBLE) * s.sf / s.k) / s.k)
                   AS zv,
               (s.sff * s.k > s.sf * s.sf) AS ok
        FROM freq f JOIN stats s USING (tok)
    ), pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) FILTER (a.ok) AS BIGINT) AS n_terms,
               CAST(SUM(CASE WHEN a.ok THEN
                        CAST(FLOOR(ABS(a.zv - b.zv) * 1000000) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS sdz_e6
        FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_terms,
           CAST(sdz_e6 // n_terms AS BIGINT) AS delta_e6
    FROM pairs
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS' DELTA stylometric distance between sources (round 12
    cont.): z-score every source's relative frequency of the top-20
    corpus tokens against the cross-source mean/sd, then Delta(a,b) =
    mean |z_a − z_b| — the authorship-attribution metric read here as
    SOURCE STYLE DRIFT: high-delta source pairs mix badly in one
    training corpus without reweighting, and a rising delta over
    snapshots is register drift text_vocab_overlap_sources (set-based)
    cannot see because delta works on the COMMON high-frequency
    function words, not the vocabulary tails.

    Exactness: token counts and per-source totals are exact bigints;
    relative frequencies quantize ONCE as integer divisions (e9);
    per-token cross-source mean/sd cells are exact bigint sums over
    the k=|sources| frame; each |z_a − z_b| term floors e6 BEFORE the
    order-free bigint pair sum; zero-variance tokens are gated out of
    BOTH the sum and the term count by the exact integer condition
    sff·k > sf² (never a sd=0 division).

    Scale: one tokenize pass (the shared shape of the tfidf family),
    a TakeOrdered top-20 vocab, then everything runs on the
    |sources|×20 frequency table — bounded by construction."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(20)
    )
    src_tot = toks.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_tok")
    )
    st_cnt = toks.groupBy("source", "tok").agg(
        F.count("*").cast("bigint").alias("c")
    )
    freq = (
        src_tot.crossJoin(F.broadcast(vocab.select("tok")))
        .join(st_cnt, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.expr(
                "(COALESCE(c, 0L) * 1000000000) DIV n_tok"
            ).alias("f_e9"),
        )
    )
    stats = freq.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("f_e9").cast("bigint").alias("sf"),
        F.sum(F.col("f_e9") * F.col("f_e9")).cast("bigint").alias("sff"),
    )
    jz = freq.join(F.broadcast(stats), "tok")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    zv = (d("f_e9") - d("sf") / F.col("k")) / F.sqrt(
        (d("sff") - d("sf") * F.col("sf") / F.col("k")) / F.col("k")
    )
    z = jz.select(
        "source",
        "tok",
        zv.alias("zv"),
        (F.col("sff") * F.col("k") > F.col("sf") * F.col("sf")).alias(
            "ok"
        ),
    )
    a = z.select(
        F.col("source").alias("src_a"),
        "tok",
        F.col("zv").alias("za"),
        F.col("ok").alias("ok_a"),
    )
    b = z.select(
        F.col("source").alias("src_b"),
        F.col("tok").alias("tok_b"),
        F.col("zv").alias("zb"),
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("tok") == F.col("tok_b"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count_if(F.col("ok_a")).cast("bigint").alias("n_terms"),
            F.sum(
                F.when(
                    F.col("ok_a"),
                    F.floor(F.abs(F.col("za") - F.col("zb")) * 1000000)
                    .cast("bigint"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("sdz_e6"),
        )
    )
    return pairs.select(
        "src_a",
        "src_b",
        "n_terms",
        F.expr("sdz_e6 DIV n_terms").alias("delta_e6"),
    )


@query(
    "text_model_auc_delong_se",
    f"""
    WITH scored AS ({_SCORED_SQL}
    ), atoms AS (
        SELECT s_e6,
               CAST(SUM(label) AS BIGINT) AS p_cnt,
               CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_cnt
        FROM scored GROUP BY s_e6
    ), walk AS (
        SELECT s_e6, p_cnt, n_cnt,
               CAST(COALESCE(SUM(n_cnt) OVER (ORDER BY s_e6
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS neg_below,
               CAST(COALESCE(SUM(p_cnt) OVER (ORDER BY s_e6 DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS pos_above,
               CAST(SUM(p_cnt) OVER () AS BIGINT) AS n1,
               CAST(SUM(n_cnt) OVER () AS BIGINT) AS n0
        FROM atoms
    ), moments AS (
        SELECT MAX(n1) AS n1, MAX(n0) AS n0,
               CAST(SUM(p_cnt * (2 * neg_below + n_cnt)) AS BIGINT)
                   AS s10,
               SUM(CAST(p_cnt AS HUGEINT)
                   * (2 * neg_below + n_cnt) * (2 * neg_below + n_cnt))
                   AS ss10,
               CAST(SUM(n_cnt * (2 * pos_above + p_cnt)) AS BIGINT)
                   AS s01,
               SUM(CAST(n_cnt AS HUGEINT)
                   * (2 * pos_above + p_cnt) * (2 * pos_above + p_cnt))
                   AS ss01
        FROM walk
    )
    SELECT n1, n0,
           CAST(FLOOR(CAST(s10 AS DOUBLE) / (2.0 * n1 * n0)
                      * 1000000000) AS BIGINT) AS auc_e9,
           CAST(FLOOR(SQRT(
               (CAST(ss10 AS DOUBLE)
                - CAST(s10 AS DOUBLE) * s10 / n1)
               / (n1 - 1) / n1 / (4.0 * n0 * n0)
               + (CAST(ss01 AS DOUBLE)
                  - CAST(s01 AS DOUBLE) * s01 / n0)
                 / (n0 - 1) / n0 / (4.0 * n1 * n1))
                      * 1000000000) AS BIGINT) AS delong_se_e9
    FROM moments
    """,
)
def text_model_auc_delong_se(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELONG STANDARD ERROR of the quality classifier's AUC (round
    12 cont.): the placement-value variance estimator that turns
    text_model_auc's point estimate into a confidence statement —
    SE² = S₁₀/n₁ + S₀₁/n₀ over per-positive and per-negative
    placement values — the number you need before claiming one
    scorer beats another (two AUCs a DeLong-SE apart are noise).

    Exactness: placement numerators are EXACT integers on the score
    atoms (w₁₀ = 2·negBelow + ties — the doubled-rank trick), their
    first moments exact bigints and second moments in
    HUGEINT/decimal(38,0) (p·w² is ~1e20-scale at sf10); AUC and SE
    are each ONE double chain over those exact cells.

    Scale: one corpus pass to e6-domain score atoms + two
    pre-reduced ordered walks (the histogram-AUC discipline), 1-row
    finish."""
    scored = _auc_scored(spark, sf_dir)
    atoms = scored.groupBy("s_e6").agg(
        F.sum("label").cast("bigint").alias("p_cnt"),
        (F.count("*") - F.sum("label")).cast("bigint").alias("n_cnt"),
    )
    w_up = Window.orderBy("s_e6").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_dn = Window.orderBy(F.col("s_e6").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    walk = atoms.select(
        "p_cnt",
        "n_cnt",
        F.coalesce(F.sum("n_cnt").over(w_up), F.lit(0))
        .cast("bigint")
        .alias("neg_below"),
        F.coalesce(F.sum("p_cnt").over(w_dn), F.lit(0))
        .cast("bigint")
        .alias("pos_above"),
        F.sum("p_cnt").over(w_all).cast("bigint").alias("n1"),
        F.sum("n_cnt").over(w_all).cast("bigint").alias("n0"),
    )
    d38 = "decimal(38,0)"
    w10 = 2 * F.col("neg_below") + F.col("n_cnt")
    w01 = 2 * F.col("pos_above") + F.col("p_cnt")
    m = walk.agg(
        F.max("n1").alias("n1"),
        F.max("n0").alias("n0"),
        F.sum(F.col("p_cnt") * w10).cast("bigint").alias("s10"),
        F.sum(F.col("p_cnt").cast(d38) * w10 * w10).alias("ss10"),
        F.sum(F.col("n_cnt") * w01).cast("bigint").alias("s01"),
        F.sum(F.col("n_cnt").cast(d38) * w01 * w01).alias("ss01"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var10 = (
        (d("ss10") - d("s10") * F.col("s10") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
        / (4.0 * F.col("n0") * F.col("n0"))
    )
    var01 = (
        (d("ss01") - d("s01") * F.col("s01") / F.col("n0"))
        / (F.col("n0") - 1)
        / F.col("n0")
        / (4.0 * F.col("n1") * F.col("n1"))
    )
    return m.select(
        "n1",
        "n0",
        F.floor(d("s10") / (2.0 * F.col("n1") * F.col("n0")) * 1000000000)
        .cast("bigint")
        .alias("auc_e9"),
        F.floor(F.sqrt(var10 + var01) * 1000000000)
        .cast("bigint")
        .alias("delong_se_e9"),
    )



@query(
    "text_model_ks_separation",
    f"""
    WITH scored AS ({_SCORED_SQL}
    ), atoms AS (
        SELECT s_e6,
               CAST(SUM(label) AS BIGINT) AS p_cnt,
               CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_cnt
        FROM scored GROUP BY s_e6
    ), walk AS (
        SELECT s_e6,
               CAST(SUM(p_cnt) OVER w AS BIGINT) AS cum_p,
               CAST(SUM(n_cnt) OVER w AS BIGINT) AS cum_n,
               CAST(SUM(p_cnt) OVER () AS BIGINT) AS p,
               CAST(SUM(n_cnt) OVER () AS BIGINT) AS n
        FROM atoms
        WINDOW w AS (ORDER BY s_e6
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), best AS (
        SELECT s_e6, cum_p, cum_n, p, n,
               ABS(cum_n * p - cum_p * n) AS sep,
               row_number() OVER (ORDER BY ABS(cum_n * p - cum_p * n)
                                  DESC, s_e6 ASC) AS pick
        FROM walk
    )
    SELECT s_e6 AS ks_threshold_e6, p, n,
           CAST((sep * 1000000) // (p * n) AS BIGINT) AS ks_e6,
           CAST((cum_n * 1000000) // n AS BIGINT) AS cdf_neg_e6,
           CAST((cum_p * 1000000) // p AS BIGINT) AS cdf_pos_e6
    FROM best WHERE pick = 1
    """,
)
def text_model_ks_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KS SEPARATION of the quality classifier (round 12 cont.): the
    maximum gap between the positive and negative score CDFs — the
    credit-scoring industry's standard single separation number (and
    the two-sample KS statistic applied to model scores), with the
    threshold where the gap peaks; completes the scorer-eval family
    next to Youden (which maximizes the SAME gap — the referee pins
    the equivalence) while reporting the CDF geometry a scorecard
    reviewer reads.

    Exactness: ALL-INTEGER — the gap |cum_n·P − cum_p·N| is
    cross-multiplied (no share ever materializes before the argmax),
    tie-break (gap desc, threshold asc), readouts exact integer
    divisions.

    Scale: one corpus pass to e6-domain score atoms + one
    pre-reduced ordered walk, LIMIT-1 finish."""
    scored = _auc_scored(spark, sf_dir)
    atoms = scored.groupBy("s_e6").agg(
        F.sum("label").cast("bigint").alias("p_cnt"),
        (F.count("*") - F.sum("label")).cast("bigint").alias("n_cnt"),
    )
    w = Window.orderBy("s_e6").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    walk = atoms.select(
        "s_e6",
        F.sum("p_cnt").over(w).cast("bigint").alias("cum_p"),
        F.sum("n_cnt").over(w).cast("bigint").alias("cum_n"),
        F.sum("p_cnt").over(w_all).cast("bigint").alias("p"),
        F.sum("n_cnt").over(w_all).cast("bigint").alias("n"),
    )
    sep = F.abs(
        F.col("cum_n") * F.col("p") - F.col("cum_p") * F.col("n")
    )
    w_pick = Window.orderBy(sep.desc(), F.col("s_e6").asc())
    best = walk.select(
        "s_e6",
        "cum_p",
        "cum_n",
        "p",
        "n",
        sep.alias("sep"),
        F.row_number().over(w_pick).alias("pick"),
    ).filter(F.col("pick") == 1)
    return best.select(
        F.col("s_e6").alias("ks_threshold_e6"),
        "p",
        "n",
        F.expr("(sep * 1000000) DIV (p * n)").alias("ks_e6"),
        F.expr("(cum_n * 1000000) DIV n").alias("cdf_neg_e6"),
        F.expr("(cum_p * 1000000) DIV p").alias("cdf_pos_e6"),
    )


@query(
    "text_model_gains_table",
    f"""
    WITH scored AS ({_SCORED_SQL}
    ), atoms AS (
        SELECT s_e6,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(label) AS BIGINT) AS p_cnt
        FROM scored GROUP BY s_e6
    ), walk AS (
        SELECT s_e6, cnt, p_cnt,
               CAST(COALESCE(SUM(cnt) OVER (ORDER BY s_e6 DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS cum_before,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n,
               CAST(SUM(p_cnt) OVER () AS BIGINT) AS p
        FROM atoms
    ), spread AS (
        SELECT ((cum_before + u.k - 1) * 10) // n AS decile,
               CAST(1 AS BIGINT) AS one,
               CASE WHEN u.k <= p_cnt THEN 1 ELSE 0 END AS is_pos,
               n, p
        FROM walk,
             LATERAL (SELECT unnest(generate_series(1, cnt)) AS k) u
    ), deciles AS (
        SELECT decile,
               CAST(SUM(one) AS BIGINT) AS n_docs,
               CAST(SUM(is_pos) AS BIGINT) AS n_pos,
               MAX(n) AS n, MAX(p) AS p
        FROM spread GROUP BY decile
    ), cum AS (
        SELECT decile, n_docs, n_pos, n, p,
               CAST(SUM(n_pos) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_pos
        FROM deciles
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
           CAST((cum_pos * 1000000) // p AS BIGINT) AS cum_capture_e6,
           CAST(((n_pos * n) * 1000000) // (CAST(n_docs AS BIGINT) * p)
                AS BIGINT) AS lift_e6
    FROM cum ORDER BY decile
    """,
)
def text_model_gains_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DECILE GAINS / LIFT TABLE of the quality classifier (round 12
    cont.): rank the corpus by score descending, cut into exact
    tenths BY ROW COUNT (ties split across the boundary — the
    deterministic within-atom ordinal spread), and read cumulative
    capture ('the top 30% of scores holds x% of all positives') and
    per-decile lift — the campaign-targeting table every scorer
    consumer asks for before any threshold talk; the tabular
    companion of Youden/KS's single optima.

    Exactness: ALL-INTEGER — atoms spread ordinally via
    generate_series/posexplode (within-atom positives first, a FIXED
    deterministic convention both engines share), the decile index is
    an integer band ((rank−1)·10)//n, captures/lifts exact integer
    divisions.

    Scale: the ordinal spread re-expands atoms back to corpus scale
    for exactness of the tie-split — one pass, map-side, partitioned
    by the atom walk; the decile rollup is 10 cells."""
    scored = _auc_scored(spark, sf_dir)
    atoms = scored.groupBy("s_e6").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("label").cast("bigint").alias("p_cnt"),
    )
    w_dn = Window.orderBy(F.col("s_e6").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    walk = atoms.select(
        "cnt",
        "p_cnt",
        F.coalesce(F.sum("cnt").over(w_dn), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n"),
        F.sum("p_cnt").over(w_all).cast("bigint").alias("p"),
    )
    spread = walk.select(
        F.explode(F.expr("sequence(1, cnt)")).alias("k"),
        "cum_before",
        "p_cnt",
        "n",
        "p",
    ).select(
        F.expr("((cum_before + k - 1) * 10) DIV n").alias("decile"),
        F.lit(1).cast("bigint").alias("one"),
        F.when(F.col("k") <= F.col("p_cnt"), 1)
        .otherwise(0)
        .alias("is_pos"),
        "n",
        "p",
    )
    deciles = spread.groupBy("decile").agg(
        F.sum("one").cast("bigint").alias("n_docs"),
        F.sum("is_pos").cast("bigint").alias("n_pos"),
        F.max("n").alias("n"),
        F.max("p").alias("p"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = deciles.select(
        "decile",
        "n_docs",
        "n_pos",
        "n",
        "p",
        F.sum("n_pos").over(w_cum).cast("bigint").alias("cum_pos"),
    )
    return cum.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_docs",
        "n_pos",
        F.expr("(cum_pos * 1000000) DIV p").alias("cum_capture_e6"),
        F.expr(
            "((n_pos * n) * 1000000) DIV (n_docs * p)"
        ).alias("lift_e6"),
    ).orderBy("decile")


# --- Round-13 lexical-richness / readability completion ----------------


@query(
    "text_lexical_richness",
    """
    WITH toks AS (
        SELECT source, unnest(str_split(text, ' ')) AS tok
        FROM documents
    ), types AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS m
        FROM toks WHERE tok != '' GROUP BY 1, 2
    ), s AS (
        SELECT source,
               CAST(SUM(m) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS v_types,
               CAST(COUNT(*) FILTER (m = 1) AS BIGINT) AS v1,
               CAST(COUNT(*) FILTER (m = 2) AS BIGINT) AS v2,
               CAST(SUM(m * m) AS BIGINT) AS sm2
        FROM types GROUP BY 1
    )
    SELECT source, n_tokens, v_types, v1,
           CAST(FLOOR(10000.0 * (CAST(sm2 AS DOUBLE) - n_tokens)
                      / (CAST(n_tokens AS DOUBLE) * n_tokens)
                      * 10000) AS BIGINT) AS yule_k_e4,
           CAST(v2 * 1000000 // v_types AS BIGINT) AS sichel_s_e6,
           CAST(FLOOR(CAST(v_types AS DOUBLE)
                      / sqrt(CAST(n_tokens AS DOUBLE)) * 10000)
                AS BIGINT) AS guiraud_r_e4,
           CASE WHEN v1 < v_types THEN
               CAST(FLOOR(100.0 * ln(CAST(n_tokens AS DOUBLE))
                          / (1.0 - CAST(v1 AS DOUBLE) / v_types)
                          * 10000) AS BIGINT)
           END AS honore_r_e4
    FROM s ORDER BY source
    """,
)
def text_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness battery per source (round 13): Yule's K
    (repeat-rate characteristic 10⁴·(Σm²V(m) − N)/N² — length-robust,
    the classic stylometric constant), Sichel's S (dis-legomena
    share V₂/V), Guiraud's R (V/√N — the root-TTR that
    text_type_token_ratio's raw V/N lacks), and Honoré's R
    (hapax-based 100·lnN/(1−V₁/V)). Together the size-corrected
    vocabulary profile used for authorship and for spotting
    template-generated (low-K-variance) sources in a training corpus;
    complements text_heaps_law (growth curve) and text_ttr_by_length
    (banded TTR).

    Exactness: the frequency spectrum (m, V(m)) is exact integer
    counting; Yule's numerator Σm²V(m) − N is an exact bigint;
    Sichel floor-divides integers; Guiraud/Honoré are one double
    chain each (Honoré NULL when every type is a hapax — the formula
    pole). Empty tokens from multi-space runs are dropped on both
    engines.

    Scale: one explode→(source, token) count (partial-aggregated),
    then a |sources|-row finish."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    types = toks.groupBy("source", "tok").agg(
        F.count("*").cast("bigint").alias("m")
    )
    s = types.groupBy("source").agg(
        F.sum("m").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("v_types"),
        F.count_if(F.col("m") == 1).cast("bigint").alias("v1"),
        F.count_if(F.col("m") == 2).cast("bigint").alias("v2"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("sm2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    yule = (
        10000.0 * (d("sm2") - F.col("n_tokens"))
        / (d("n_tokens") * F.col("n_tokens"))
    )
    honore = (
        100.0 * F.log(d("n_tokens"))
        / (1.0 - d("v1") / F.col("v_types"))
    )
    return s.select(
        "source",
        "n_tokens",
        "v_types",
        "v1",
        F.floor(yule * 10000).cast("bigint").alias("yule_k_e4"),
        F.expr("CAST(v2 * 1000000 DIV v_types AS BIGINT)").alias(
            "sichel_s_e6"
        ),
        F.floor(d("v_types") / F.sqrt(d("n_tokens")) * 10000)
        .cast("bigint")
        .alias("guiraud_r_e4"),
        F.when(F.col("v1") < F.col("v_types"), F.floor(honore * 10000))
        .cast("bigint")
        .alias("honore_r_e4"),
    ).orderBy("source")


@query(
    "text_readability_grades",
    """
    WITH per_doc AS (
        SELECT source,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS BIGINT) AS letters,
               CAST(len(list_filter(str_split(text, ' '), w -> w != ''))
                    AS BIGINT) AS words,
               CAST(len(list_filter(str_split(text, ' '),
                        w -> length(w) > 6)) AS BIGINT) AS longwords,
               CAST(GREATEST(length(text)
                             - length(replace(replace(replace(text,
                                   '.', ''), '!', ''), '?', '')), 1)
                    AS BIGINT) AS sentences
        FROM documents
    ), s AS (
        SELECT source,
               CAST(SUM(letters) AS BIGINT) AS letters,
               CAST(SUM(words) AS BIGINT) AS words,
               CAST(SUM(longwords) AS BIGINT) AS longwords,
               CAST(SUM(sentences) AS BIGINT) AS sentences
        FROM per_doc GROUP BY 1
    )
    SELECT source, words, sentences,
           CAST(FLOOR((4.71 * CAST(letters AS DOUBLE) / words
                       + 0.5 * CAST(words AS DOUBLE) / sentences
                       - 21.43) * 10000) AS BIGINT) AS ari_e4,
           CAST(FLOOR((0.0588 * (100.0 * CAST(letters AS DOUBLE) / words)
                       - 0.296 * (100.0 * CAST(sentences AS DOUBLE)
                                  / words)
                       - 15.8) * 10000) AS BIGINT) AS coleman_liau_e4,
           CAST(FLOOR((CAST(words AS DOUBLE) / sentences
                       + 100.0 * CAST(longwords AS DOUBLE) / words)
                      * 10000) AS BIGINT) AS lix_e4
    FROM s ORDER BY source
    """,
)
def text_readability_grades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syllable-free readability battery per source (round 13): ARI
    (4.71·chars/word + 0.5·words/sentence − 21.43), Coleman-Liau
    (0.0588·L − 0.296·S − 15.8), and Swedish LIX (words/sentence +
    100·longwords/words) — the three standard grade-level formulas
    whose inputs are PURE COUNTS (letters, words, long words,
    sentence marks), so they stay exact where Flesch-Kincaid
    (text_readability_fk) leans on a syllable heuristic. Per-doc
    sentence count floors at 1 (this corpus has unpunctuated docs —
    the formula pole, handled identically both engines).

    Exactness: all counts are exact integers aggregated per source;
    the three grade formulas are one shared-literal double chain each,
    floored e4.

    Scale: narrow per-row count extraction → one keyed rollup —
    corpus touched once."""
    docs = load(spark, sf_dir, "documents")
    words_arr = F.filter(F.split("text", " "), lambda w: w != "")
    per_doc = docs.select(
        "source",
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
        .cast("bigint")
        .alias("letters"),
        F.size(words_arr).cast("bigint").alias("words"),
        F.size(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 6)
        )
        .cast("bigint")
        .alias("longwords"),
        F.greatest(
            F.length("text")
            - F.length(
                F.regexp_replace("text", r"[.!?]", "")
            ),
            F.lit(1),
        )
        .cast("bigint")
        .alias("sentences"),
    )
    s = per_doc.groupBy("source").agg(
        F.sum("letters").cast("bigint").alias("letters"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("longwords").cast("bigint").alias("longwords"),
        F.sum("sentences").cast("bigint").alias("sentences"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ari = (
        4.71 * d("letters") / F.col("words")
        + 0.5 * d("words") / F.col("sentences")
        - 21.43
    )
    cl = (
        0.0588 * (100.0 * d("letters") / F.col("words"))
        - 0.296 * (100.0 * d("sentences") / F.col("words"))
        - 15.8
    )
    lix = d("words") / F.col("sentences") + 100.0 * d("longwords") / F.col(
        "words"
    )
    return s.select(
        "source",
        "words",
        "sentences",
        F.floor(ari * 10000).cast("bigint").alias("ari_e4"),
        F.floor(cl * 10000).cast("bigint").alias("coleman_liau_e4"),
        F.floor(lix * 10000).cast("bigint").alias("lix_e4"),
    ).orderBy("source")
