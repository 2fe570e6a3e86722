"""SURVEY §2.10 — multimodal columns (MANDATE).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs; decode/feature-extract/resize/frame-sample run as
Arrow-batched pandas pipelines over ``mapInPandas``. The container has
no image/audio LIBRARIES, but since round 6 the decode seam is real
for raster containers: ``multimodal_decode_codec`` round-trips actual
PNG (all five scanline filters, pure-stdlib zlib codec in
gds/operators/imagecodec.py) and binary PPM through header triage +
decode, under an exact DuckDB oracle on the decoded pixels — and for
audio: ``multimodal_audio_wav`` round-trips RIFF/WAVE PCM (header
triage incl. frame alignment, int16 LE decode, waveform features)
under an exact oracle that re-parses the samples relationally — and
for video: ``multimodal_video_y4m`` round-trips YUV4MPEG2 (ffmpeg's
raw-frame interchange) frame-by-frame.  All three modalities decode
REAL containers under exact oracles; only LOSSY codecs (JPEG / AAC /
H.264) remain behind the declared import-try seam
(``multimodal_decode``'s byte-feature fallback).

Synthetic payloads are derived deterministically from document text
(repeat(md5) bytes) so every engine/run sees identical binaries.

Scale notes:
- Binary payloads ride the columnar path (parquet BYTE_ARRAY, Arrow
  binary) end to end; metadata stays in typed struct columns so
  filters (width ≥ X) prune BEFORE decode — decode-then-filter is the
  canonical multimodal-pipeline mistake at 100 TB.
- mapInPandas streams Arrow batches through the Python worker:
  memory is bounded by batch size (spark.sql.execution.arrow.
  maxRecordsPerBatch), not partition size — required when payloads are
  MBs each.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphsense_datafeed_spark.functions.hashing import hex_int
from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.sources.tables import load

try:  # real decoder if ever available in the environment
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except Exception:
    _HAVE_PIL = False


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach a deterministic synthetic 64-byte 'image' payload and a
    typed metadata struct — the canonical multimodal row shape:
    (id, payload binary, meta struct<width,height,channels,format>)."""
    return docs.select(
        "doc_id",
        F.unhex(F.repeat(F.md5(F.col("text").cast("binary")), 4)).alias("payload"),
        F.struct(
            (F.col("n_chars") % 64 + 1).cast("int").alias("width"),
            (F.col("n_chars") % 48 + 1).cast("int").alias("height"),
            F.lit(3).alias("channels"),
            F.lit("fake/rgb8").alias("format"),
        ).alias("meta"),
    )


@query(
    "multimodal_cols",
    """
    SELECT doc_id,
           CAST(octet_length(unhex(repeat(md5(text), 4))) AS INT) AS n_bytes,
           substr(hex(unhex(repeat(md5(text), 4))), 1, 16) AS header_hex,
           CAST(n_chars % 64 + 1 AS INT) AS width,
           CAST(n_chars % 48 + 1 AS INT) AS height,
           (n_chars % 64 + 1) * (n_chars % 48 + 1) * 3 AS n_pixels
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata as first-class columns: byte
    length, header bytes (hex), and metadata-derived pixel budget —
    the filter-before-decode surface."""
    d = with_payload(
        load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )
    return d.select(
        "doc_id",
        F.length("payload").cast("int").alias("n_bytes"),
        F.substring(F.hex("payload"), 1, 16).alias("header_hex"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        (F.col("meta.width") * F.col("meta.height") * F.col("meta.channels"))
        .cast("bigint")
        .alias("n_pixels"),
    )


@query(
    "multimodal_vector_ops",
    """
    SELECT vec_id,
           ROUND(sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * x), (a, b) -> a + b)), 4) AS norm,
           ROUND(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * 2.5), (a, b) -> a + b), 4) AS scaled_sum,
           ROUND(list_reduce(list_transform(list_zip(embedding, embedding),
                 p -> (CAST(p[1] AS DOUBLE) + p[2]) * p[1]), (a, b) -> a + b), 4)
               AS self_affine,
           CAST(FLOOR(CAST(embedding[1] AS DOUBLE)
                 / sqrt(list_reduce(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * x), (a, b) -> a + b)) * 10000)
               AS BIGINT) AS first_normalized_e4
    FROM embeddings WHERE vec_id < 400
    """,
)
def multimodal_vector_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector/array columns as first-class values: norm, scalar
    multiply, element-wise combine (zip_with) and normalization — all
    JVM higher-order functions, no UDF (SURVEY §2.10 multimodal_cols
    semantics; the binary-payload surface lives in multimodal_cols/
    multimodal_decode)."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    dbl = lambda c: c.cast("double")  # noqa: E731
    sq_sum = F.aggregate(
        "embedding", F.lit(0.0), lambda a, x: a + dbl(x) * x
    )
    norm = F.sqrt(sq_sum)
    return e.select(
        "vec_id",
        F.round(norm, 4).alias("norm"),
        F.round(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + dbl(x) * 2.5), 4
        ).alias("scaled_sum"),
        F.round(
            F.aggregate(
                F.zip_with("embedding", "embedding", lambda x, y: (dbl(x) + y) * x),
                F.lit(0.0),
                lambda a, v: a + v,
            ),
            4,
        ).alias("self_affine"),
        F.floor(dbl(F.col("embedding")[0]) / norm * 10000)
        .cast("bigint")
        .alias("first_normalized_e4"),
    )


_DECODE_SCHEMA = (
    "doc_id bigint, n_bytes int, byte_sum bigint, mean_byte_e2 bigint, "
    "digest string, decoder string"
)


@query(
    "multimodal_decode",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 4) AS h
        FROM documents WHERE doc_id < 200
    ), feats AS (
        SELECT doc_id, h,
               CAST(list_reduce(list_transform(range(0, 64), k ->
                   CAST('0x' || substr(h, CAST(k * 2 + 1 AS INT), 2)
                        AS BIGINT)), (a, b) -> a + b) AS BIGINT)
                   AS byte_sum
        FROM media
    )
    SELECT doc_id, CAST(64 AS INT) AS n_bytes, byte_sum,
           CAST(byte_sum * 100 // 64 AS BIGINT) AS mean_byte_e2,
           sha256(upper(h)) AS digest,
           'fake' AS decoder
    FROM feats
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over binary payloads via mapInPandas.
    Round 7 upgraded this round-3 ✖ row to an EXACT oracle: the byte
    features are integer arithmetic over hex-pair bytes and the
    digest is sha256 of the UPPERCASE HEX rendering (the codec-family
    digest discipline — DuckDB hashes VARCHAR, not BLOB), so the
    whole row re-derives relationally.  The oracle pins
    decoder='fake' — this container has no imaging library; with PIL
    present the seam decodes for real and this row intentionally
    hash-mismatches until the oracle is updated alongside.

    The batch fn is a CLOSURE on purpose: cloudpickle ships closures by
    value, so executor Python workers don't need this package on their
    PYTHONPATH (module-level fns pickle by reference and break when the
    driver session wasn't launched from the repo root)."""
    have_pil = _HAVE_PIL

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Arrow-batched 'decode': real byte-level feature extraction
        # (length, sum, mean, hex-digest) + a STUBBED image decode —
        # no imaging library in the container → decoder='fake' and
        # features come from raw bytes. With PIL present this seam
        # decodes for real; the plumbing under test is identical.
        import hashlib as _hl

        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len)
            byte_sum = payloads.map(lambda b: sum(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int32"),
                    "byte_sum": byte_sum.astype("int64"),
                    "mean_byte_e2": (byte_sum * 100 // n_bytes).astype("int64"),
                    "digest": payloads.map(
                        lambda b: _hl.sha256(
                            bytes(b).hex().upper().encode()
                        ).hexdigest()
                    ),
                    "decoder": "pil" if have_pil else "fake",
                }
            )

    d = with_payload(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))
    return d.select("doc_id", "payload").mapInPandas(
        decode_batches, _DECODE_SCHEMA
    )


_FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_hex string"


@query(
    "multimodal_frames",
    """
    SELECT doc_id,
           CAST((i - 1) * 2 AS INT) AS frame_idx,
           substr(hex(unhex(repeat(md5(text), 4))), (i - 1) * 64 + 1, 32)
               AS frame_hex
    FROM documents CROSS JOIN (SELECT unnest(range(1, 3)) AS i)
    WHERE doc_id < 200
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the Python batch path, with a SQL oracle
    (the synthetic 64-byte payload has 4 frames; every 2nd → frames
    0 and 2, whose bytes are hex-addressable in SQL). Python is doing
    real byte slicing; SQL independently derives the same frames."""
    d = with_payload(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # 'Video' frame sampling stub: payload = sequence of 16-byte
        # frames; emit every 2nd. Real codecs would seek keyframes at
        # this exact seam; the explode-shaped output contract is the
        # same. Closure → pickled by value (see multimodal_decode).
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_hex": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = [payload[i : i + 16] for i in range(0, len(payload), 16)]
                for idx in range(0, len(frames), 2):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["frame_hex"].append(frames[idx].hex().upper())
            yield pd.DataFrame(rows)

    return d.select("doc_id", "payload").mapInPandas(
        sample_frames, _FRAME_SCHEMA
    )


_RESIZE_SCHEMA = "doc_id bigint, src_w int, src_h int, dst_w int, dst_h int, pooled_hex string"


@query(
    "multimodal_resize",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 4) AS h
        FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(8 AS INT) AS src_w, CAST(8 AS INT) AS src_h,
           CAST(4 AS INT) AS dst_w, CAST(4 AS INT) AS dst_h,
           array_to_string(list_transform(range(0, 16), o -> printf(
               '%02x',
               (  CAST('0x' || substr(h, ((o // 4 * 2) * 8
                      + (o % 4) * 2) * 2 + 1, 2) AS BIGINT)
                + CAST('0x' || substr(h, ((o // 4 * 2) * 8
                      + (o % 4) * 2 + 1) * 2 + 1, 2) AS BIGINT)
                + CAST('0x' || substr(h, ((o // 4 * 2 + 1) * 8
                      + (o % 4) * 2) * 2 + 1, 2) AS BIGINT)
                + CAST('0x' || substr(h, ((o // 4 * 2 + 1) * 8
                      + (o % 4) * 2 + 1) * 2 + 1, 2) AS BIGINT)
               ) // 4)), '') AS pooled_hex
    FROM media
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/downsample over binary image payloads via mapInPandas —
    the third leg of the mandated decode / resize / frame-sample
    multimodal trio. The synthetic 64-byte payload is treated as an
    8×8 single-channel image and mean-pooled 2×2 → 4×4 (floor
    division, deterministic); with a real imaging library the pooling
    line is the only thing that changes (PIL.Image.resize), the
    Spark-side plumbing — schema, Arrow batching, closure shipping —
    is what's under test.

    Round 7 upgraded this from rows-only to an EXACT oracle: the
    pooling is pure integer arithmetic on hex-pair bytes, so DuckDB
    re-derives every pooled pixel relationally ((A+B+C+D)//4 per 2×2
    block, %02x hex assembly) — a ✖ row retired (the imagecodec
    discipline applied backwards to the round-3 stub).  Hand-computed
    pixel values stay asserted in tests/test_llm.py.

    Scale: a narrow Arrow-batched map over the payload column — no
    shuffle, embarrassingly parallel, output strictly smaller than
    input (the property that makes resize-early the standard first
    stage of image pipelines)."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            pooled = []
            for b in pdf["payload"]:
                img = _np.frombuffer(bytes(b), dtype=_np.uint8).reshape(8, 8)
                p = img.reshape(4, 2, 4, 2).mean(axis=(1, 3)).astype(_np.uint8)
                pooled.append(p.tobytes().hex())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "src_w": 8,
                    "src_h": 8,
                    "dst_w": 4,
                    "dst_h": 4,
                    "pooled_hex": pooled,
                }
            )

    d = with_payload(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))
    return d.select("doc_id", "payload").mapInPandas(resize_batches, _RESIZE_SCHEMA)


@query(
    "multimodal_dedup_exact",
    """
    WITH media AS (
        SELECT doc_id, unhex(repeat(md5(text), 4)) AS payload
        FROM documents
    ), hashed AS (
        SELECT doc_id, sha256(hex(payload)) AS digest FROM media
    )
    SELECT digest, CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id
    FROM hashed GROUP BY digest
    HAVING COUNT(*) >= 2
    """,
)
def multimodal_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BINARY dedup over media payloads (round 5): digest the
    opaque bytes (sha256 of the payload column, never the decoded
    content), group by digest, lowest id keeps — the first pass every
    multimodal pipeline runs before any perceptual/near-dup stage,
    because byte-identical copies (mirrors, re-uploads, crawler
    re-fetches) dominate raw media corpora and cost nothing to catch.
    Identical shape to dedup_exact on text but down the BINARY column
    path: the 32-byte digest shuffles, the payload bytes never leave
    the scan. Groups with one copy are filtered before the output —
    the result is sized in duplicates. The digest runs over the HEX
    form of the bytes (identical uppercase hex both engines — the
    multimodal_cols parity) because this DuckDB build's sha256 binds
    VARCHAR only."""
    media = with_payload(load(spark, sf_dir, "documents"))
    return (
        media.select(
            "doc_id",
            F.sha2(F.hex(F.col("payload")).cast("binary"), 256).alias("digest"),
        )
        .groupBy("digest")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.min("doc_id").cast("bigint").alias("keeper_id"),
        )
        .filter(F.col("n_copies") >= 2)
    )


@query(
    "multimodal_phash_dedup",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 4) AS h
        FROM documents
    ), bytes AS (
        SELECT doc_id,
               list_transform(range(1, 65),
                   i -> CAST('0x' || substr(h, CAST(i AS INT) * 2 - 1, 2)
                             AS BIGINT)) AS bs
        FROM media
    ), bits AS (
        SELECT doc_id,
               list_transform(bs,
                   b -> CAST(b * 64 > list_sum(bs) AS BIGINT)) AS bit
        FROM bytes
    ), blocks AS (
        SELECT doc_id, bit,
               unnest(range(0, 4)) AS k
        FROM bits
    ), keyed AS (
        SELECT doc_id, bit, k,
               list_reduce(bit[CAST(k * 16 + 1 AS INT):CAST(k * 16 + 16 AS INT)],
                           (acc, x) -> acc * 2 + x) AS block_val
        FROM blocks
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keyed a JOIN keyed b
          ON a.k = b.k AND a.block_val = b.block_val
         AND a.doc_id < b.doc_id
    ), verified AS (
        SELECT c.doc_a, c.doc_b,
               list_reduce(
                   list_transform(list_zip(x.bit, y.bit),
                       p -> CAST(p[1] <> p[2] AS BIGINT)),
                   (acc, v) -> acc + v) AS hamming
        FROM cand c
        JOIN bits x ON x.doc_id = c.doc_a
        JOIN bits y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
    FROM verified WHERE hamming <= 3
    """,
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over media payloads (round 5 batch 9):
    average-hash (aHash) treats the 64-byte payload as an 8×8
    grayscale grid — bit i = (pixel i > image mean) — and
    near-duplicate candidates are found by dedup_simhash's pigeonhole:
    4 blocks of 16 bits, hamming ≤ 3 GUARANTEES at least one block
    matches exactly, so candidate generation is a block equi-join and
    the full 64-bit hamming is computed only for candidates. This is
    the stage between multimodal_dedup_exact (byte-identical) and
    embedding similarity: catches re-encoded/slightly-corrupted copies
    whose bytes differ but whose content pattern doesn't.

    ENTIRELY SQL-expressible — no decoder needed: bytes come from hex
    pairs of the payload's hex form (engine-portable '0x' parse /
    conv), the mean comparison is the integer cross-multiplication
    b·64 > Σb (no division), block keys fold bits to integers
    (seedless fold ≡ seed-0 for acc·2+x), and hamming is an integer
    xor-fold. On this fixture the payload is an md5 repeated 4× so all
    four blocks coincide per doc — degenerate but harmless pigeonhole;
    real media payloads exercise all four independently (planted-dup
    test covers a distinct-block case).

    Scale: the hash is 8 bytes/row at rest; candidates are bucketed by
    (block, value) — never all-pairs — with dedup_near's count-
    certified cap as the documented hot-bucket guard."""
    docs = load(spark, sf_dir, "documents")
    h = F.repeat(F.md5(F.col("text").cast("binary")), 4)
    bytes_arr = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: F.conv(h.substr(i * 2 - 1, F.lit(2)), 16, 10).cast(
            "bigint"
        ),
    )
    base = docs.select("doc_id", bytes_arr.alias("bs"))
    total = F.aggregate(F.col("bs"), F.lit(0).cast("bigint"), lambda a, x: a + x)
    # Round-16 (guide §2.4): the md5 -> 64x conv(substr) -> threshold
    # chain is INTERPRETED HOF math (never codegen'd) and the plan
    # consumed it four ways (keyed's two self-join sides + both verify
    # sides) — four full re-evaluations over four parquet re-scans.
    # Checkpoint the per-doc bit vectors ONCE (|docs| rows x 64 tiny
    # ints); every consumer reads materialized blocks.
    bits = base.select(
        "doc_id",
        F.transform(
            F.col("bs"), lambda b: (b * 64 > total).cast("bigint")
        ).alias("bit"),
    ).localCheckpoint()
    # keyed feeds BOTH candidate-join sides — same discipline (the
    # block-val fold is another interpreted aggregate per row).
    keyed = bits.select(
        "doc_id",
        "bit",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
    ).select(
        "doc_id",
        "k",
        F.aggregate(
            F.slice(F.col("bit"), F.col("k") * 16 + 1, F.lit(16)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc * 2 + x,
        ).alias("block_val"),
    ).localCheckpoint()
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), "k", "block_val"
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("k").alias("kb"),
        F.col("block_val").alias("bvb"),
    )
    cand = (
        a.join(
            b,
            (F.col("k") == F.col("kb"))
            & (F.col("block_val") == F.col("bvb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    x = bits.select(F.col("doc_id").alias("doc_a"), F.col("bit").alias("bx"))
    y = bits.select(F.col("doc_id").alias("doc_b"), F.col("bit").alias("by"))
    verified = cand.join(x, "doc_a").join(y, "doc_b").select(
        "doc_a",
        "doc_b",
        F.aggregate(
            F.zip_with(
                F.col("bx"), F.col("by"), lambda p, q: (p != q).cast("bigint")
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("hamming"),
    )
    return verified.filter(F.col("hamming") <= 3).select(
        "doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming")
    )


@query(
    "multimodal_parse_header",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 4) AS h FROM documents
    ), bytes AS (
        SELECT doc_id, h,
               list_transform(range(1, 17),
                   i -> CAST('0x' || substr(h, CAST(i AS INT) * 2 - 1, 2)
                             AS BIGINT)) AS bs
        FROM media
    )
    SELECT doc_id,
           upper(substr(h, 1, 4)) AS magic,
           CAST(bs[3] % 4 AS BIGINT) AS version,
           CAST(bs[4] % 8 + 1 AS BIGINT) AS n_frames,
           CAST(bs[5] * 16777216 + bs[6] * 65536 + bs[7] * 256 + bs[8]
                AS BIGINT) AS duration_ms,
           CAST(list_reduce(bs[9:16], (a, x) -> xor(a, x)) AS BIGINT)
               AS xor_check
    FROM bytes
    """,
)
def multimodal_parse_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary container-header parse without a UDF (round 5 batch 16):
    typed fields decoded from fixed byte offsets of the opaque payload
    — magic tag, version, frame count, a big-endian u32 duration, and
    an XOR integrity fold — the media-sidecar metadata extraction
    every multimodal ingest does BEFORE deciding whether a blob is
    worth decoding (multimodal_decode's metadata-prune-before-decode
    note, now with the parsing itself on the scan path).

    The point is WHERE it runs: entirely in relational expressions
    (hex-pair byte parse, integer arithmetic big-endian assembly,
    seedless xor fold ≡ seed-first for the associative-commutative
    XOR) — JVM-side, codegen'd, zero Python — so header triage at
    100 TB is a narrow scan-fused projection and the expensive
    Arrow/UDF path (decode) sees only rows whose headers qualify.
    Fixture payloads are the synthetic md5×4 bytes, so every field is
    deterministic and both engines parse identical values.

    Scale: narrow, no shuffle; pushes down with the scan."""
    docs = load(spark, sf_dir, "documents")
    h = F.repeat(F.md5(F.col("text").cast("binary")), 4)
    byte = lambda i: hex_int(h, i * 2 - 1, 2)  # noqa: E731
    xor_fold = byte(9)
    for i in range(10, 17):
        xor_fold = xor_fold.bitwiseXOR(byte(i))
    return docs.select(
        "doc_id",
        F.upper(F.substring(h, 1, 4)).alias("magic"),
        (byte(3) % 4).cast("bigint").alias("version"),
        (byte(4) % 8 + 1).cast("bigint").alias("n_frames"),
        (
            byte(5) * 16777216 + byte(6) * 65536 + byte(7) * 256 + byte(8)
        )
        .cast("bigint")
        .alias("duration_ms"),
        xor_fold.cast("bigint").alias("xor_check"),
    )


@query(
    "multimodal_video_near_dup",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 4) AS h FROM documents
    ), sigs AS (
        SELECT doc_id,
               list_aggregate(
                   list_transform(range(0, 16),
                       fr -> substr('0123456789abcdef',
                                    CAST(CAST('0x' || substr(h,
                                         CAST(fr AS INT) * 8 + 1, 8)
                                         AS BIGINT) % 16 AS INT) + 1, 1)),
                   'string_agg', '') AS sig
        FROM media
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sig AS sig_a, b.sig AS sig_b
        FROM sigs a JOIN sigs b
          ON substr(a.sig, 1, 4) = substr(b.sig, 1, 4)
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(sig_a, sig_b) AS BIGINT) AS seq_dist
    FROM cand
    WHERE levenshtein(sig_a, sig_b) <= 2
    """,
)
def multimodal_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sequence near-dup for video-like payloads (round 5 batch
    20): each 64-byte payload is treated as 16 frames of 4 bytes;
    every frame reduces to a 1-hex-char mini-hash, the 16-char frame
    SIGNATURE is the video's temporal fingerprint, and near-duplicates
    are signatures within edit distance ≤ 2 — the re-encoded /
    trimmed-by-a-frame / re-muxed copy class that whole-payload
    digests (multimodal_dedup_exact) and single-image hashes
    (multimodal_phash_dedup) both miss, because those have no notion
    of SEQUENCE. Candidate generation buckets on the first-4-frame
    prefix (a trimmed-head copy differs at the tail; the pigeonhole
    for edit distance over a shared prefix), Levenshtein runs only on
    bucket mates.

    Everything is engine-portable string/integer work: frame hash =
    big-endian u32 of the frame bytes mod 16 (the parse_header byte
    machinery), and BOTH engines ship a native levenshtein — the one
    string-similarity function they share (dedup_edit_distance's
    discipline, applied to media signatures).

    Scale: signatures are 16 bytes/row at rest; prefix buckets bound
    the pair space with the count-certified cap as the hot-bucket
    guard; edit distance touches candidates only."""
    docs = load(spark, sf_dir, "documents")
    h = F.repeat(F.md5(F.col("text").cast("binary")), 4)
    frame_char = lambda fr: F.substring(  # noqa: E731
        F.lit("0123456789abcdef"),
        (hex_int(h, fr * 8 + 1, 8) % 16).cast("int")
        + 1,
        1,
    )
    sig = F.concat(*[frame_char(fr) for fr in range(16)])
    sigs = docs.select("doc_id", sig.alias("sig"))
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    cand = (
        a.join(
            b,
            (
                F.substring("sig_a", 1, 4) == F.substring("sig_b", 1, 4)
            )
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .distinct()
    )
    dist = F.levenshtein("sig_a", "sig_b")
    return cand.filter(dist <= 2).select(
        "doc_a", "doc_b", dist.cast("bigint").alias("seq_dist")
    )


@query(
    "multimodal_decode_codec",
    """
    WITH media AS (
        SELECT doc_id, unhex(repeat(md5(text), 12)) AS pixels
        FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'ppm' END AS container,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 ELSE -1 END
                AS BIGINT) AS filter_used,
           sha256(hex(pixels)) AS pixel_sha256
    FROM media
    """,
)
def multimodal_decode_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container decode behind the multimodal seam (VERDICT r5
    #4): each document's deterministic 8×8 RGB pixel block (192 bytes =
    md5(text) repeated 12×) is ENCODED into a real raster container in
    the Python stage — even doc_ids as PNG (pure-Python encoder,
    scanline filter chosen per row as doc_id % 5 so all five PNG
    filters occur in every corpus), odd doc_ids as binary PPM (P6) —
    then header-TRIAGED (signature + IHDR validation dispatches the
    decoder; garbage raises, mirroring multimodal_parse_header's
    prune-before-decode contract) and DECODED back to raw pixels by
    gds/operators/imagecodec.py.

    The oracle is exact and pins the decode, not the plumbing: DuckDB
    computes sha256 over the KNOWN pixel bytes directly, while Spark's
    digest comes out of the full encode→triage→decode round trip — any
    filter-inversion or chunk-walk bug in the decoder breaks the hash
    match.  zlib-compressed PNG bytes themselves never appear in the
    output (their exact bytes are zlib-build-dependent; the decoded
    pixels are not).

    Scale: one narrow Arrow-batched map — no shuffle; decode cost is
    bounded per Arrow batch, and the triage raises (rather than
    limping) on undecodable payloads so corrupt blobs surface at the
    gate, not as garbage features downstream."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    src = d.select(
        "doc_id",
        F.unhex(F.repeat(F.md5(F.col("text").cast("binary")), 12)).alias(
            "pixels"
        ),
    )
    out_schema = (
        "doc_id bigint, container string, width int, height int, "
        "channels int, filter_used bigint, pixel_sha256 string"
    )

    def codec_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        from graphsense_datafeed_spark.operators import imagecodec as _ic

        for pdf in batches:
            rows = {
                "doc_id": [],
                "container": [],
                "width": [],
                "height": [],
                "channels": [],
                "filter_used": [],
                "pixel_sha256": [],
            }
            for doc_id, px in zip(pdf["doc_id"], pdf["pixels"]):
                px = bytes(px)
                if doc_id % 2 == 0:
                    ft = int(doc_id % 5)
                    payload = _ic.png_encode(px, 8, 8, 3, ft)
                    # header triage gates the decoder choice
                    _ic.png_parse_header(payload)
                    w, h, ch, dec = _ic.png_decode(payload)
                    container = "png"
                else:
                    ft = -1
                    payload = _ic.ppm_encode(px, 8, 8)
                    w, h, ch, dec = _ic.ppm_decode(payload)
                    container = "ppm"
                rows["doc_id"].append(doc_id)
                rows["container"].append(container)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(ch)
                rows["filter_used"].append(ft)
                rows["pixel_sha256"].append(
                    _hl.sha256(dec.hex().upper().encode()).hexdigest()
                )
            yield pd.DataFrame(rows)

    return src.mapInPandas(codec_batches, out_schema)


@query(
    "multimodal_audio_wav",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 8) AS h,
               CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS rate
        FROM documents WHERE doc_id < 200
    ), samples AS (
        SELECT doc_id, h, rate,
               list_transform(range(0, 64), i -> CASE
                   WHEN CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                             AS BIGINT)
                        + 256 * CAST('0x' || substr(h, CAST(i * 4 + 3 AS INT),
                                                    2) AS BIGINT) >= 32768
                   THEN CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                             AS BIGINT)
                        + 256 * CAST('0x' || substr(h, CAST(i * 4 + 3 AS INT),
                                                    2) AS BIGINT) - 65536
                   ELSE CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                             AS BIGINT)
                        + 256 * CAST('0x' || substr(h, CAST(i * 4 + 3 AS INT),
                                                    2) AS BIGINT)
               END) AS pcm
        FROM media
    )
    SELECT doc_id, rate AS sample_rate,
           CAST(64 AS BIGINT) AS n_frames,
           CAST(list_max(list_transform(pcm, s -> abs(s))) AS BIGINT)
               AS peak_abs,
           CAST(list_reduce(list_transform(pcm, s -> s * s),
                            (a, b) -> a + b) AS BIGINT) AS sum_sq,
           sha256(upper(h)) AS pcm_sha256
    FROM samples
    """,
)
def multimodal_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-container decode (round 6) — the WAV leg of the
    codec family, upgrading the audio modality from declared stub to
    real exactly as multimodal_decode_codec did for images: each
    document's deterministic 128-byte PCM block (md5(text)×8) is
    ENCODED as a canonical RIFF/WAVE file (mono int16, per-doc sample
    rate 8/12/16 kHz) in the Python stage, header-TRIAGED (RIFF magic,
    size check, PCM fmt chunk, frame alignment — wav_parse_header),
    then DECODED back by gds/operators/imagecodec.py's WAV codec, and
    reduced to the waveform features every audio pipeline extracts
    first (frame count, peak amplitude, energy).

    The oracle parses the SAME int16 little-endian samples relationally
    (hex-pair byte math, two's-complement CASE) and computes identical
    exact-integer features plus a digest of the raw PCM — any
    chunk-walk, alignment, or endianness bug in the decoder breaks the
    hash match.

    Scale: one narrow Arrow-batched map, no shuffle; decode memory
    bounded by Arrow batch size; triage rejects non-PCM payloads at
    the gate."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    src = d.select(
        "doc_id",
        F.unhex(F.repeat(F.md5(F.col("text").cast("binary")), 8)).alias(
            "pcm"
        ),
        (8000 + (F.col("doc_id") % 3) * 4000)
        .cast("int")
        .alias("rate"),
    )
    out_schema = (
        "doc_id bigint, sample_rate bigint, n_frames bigint, "
        "peak_abs bigint, sum_sq bigint, pcm_sha256 string"
    )

    def wav_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl
        import struct as _st

        from graphsense_datafeed_spark.operators import imagecodec as _ic

        for pdf in batches:
            rows = {
                "doc_id": [],
                "sample_rate": [],
                "n_frames": [],
                "peak_abs": [],
                "sum_sq": [],
                "pcm_sha256": [],
            }
            for doc_id, pcm, rate in zip(
                pdf["doc_id"], pdf["pcm"], pdf["rate"]
            ):
                pcm = bytes(pcm)
                payload = _ic.wav_encode(pcm, int(rate), 1, 16)
                srate, ch, bits, n_frames = _ic.wav_parse_header(payload)
                dr, dch, dbits, dec = _ic.wav_decode(payload)
                samples = _st.unpack(f"<{len(dec) // 2}h", dec)
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(srate)
                rows["n_frames"].append(n_frames)
                rows["peak_abs"].append(max(abs(s) for s in samples))
                rows["sum_sq"].append(sum(s * s for s in samples))
                rows["pcm_sha256"].append(
                    _hl.sha256(dec.hex().upper().encode()).hexdigest()
                )
            yield pd.DataFrame(rows)

    return src.mapInPandas(wav_batches, out_schema)


@query(
    "multimodal_video_y4m",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 8) AS h
        FROM documents WHERE doc_id < 200
    ), frames AS (
        SELECT doc_id, h, unnest(range(0, 5)) AS frame_idx FROM media
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
           CAST(list_reduce(list_transform(range(0, 16),
                j -> CAST('0x' || substr(h,
                          CAST(frame_idx * 48 + j * 2 + 1 AS INT), 2)
                          AS BIGINT)),
                (a, b) -> a + b) AS BIGINT) AS luma_sum,
           sha256(upper(substr(h, CAST(frame_idx * 48 + 1 AS INT), 48)))
               AS frame_sha256
    FROM frames
    """,
)
def multimodal_video_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode (round 6) — the Y4M (YUV4MPEG2)
    leg, closing the LAST multimodal stub: each document's
    deterministic 120 bytes (md5×8, truncated) become five 4×4 C420
    frames (16 Y + 4 U + 4 V bytes each), ENCODED as a real YUV4MPEG2
    stream (the raw-frame interchange format ffmpeg/x264 pipelines
    pass around), header-TRIAGED (magic, even geometry, C420 chroma —
    y4m_parse_header), then DECODED frame-by-frame by the stdlib codec
    and reduced to per-frame features (luma energy, frame digest) —
    the decode → per-frame feature shape real video ingest uses, with
    multimodal_frames' explode-shaped output contract.

    The oracle re-derives every frame relationally (hex slicing of the
    known payload): a frame-boundary, plane-size, or FRAME-marker bug
    in the decoder breaks luma sums and digests alike.  With this, all
    three modalities (image / audio / video) decode REAL containers
    under exact oracles; only lossy codecs (JPEG/AAC/H.264) remain
    behind the declared library seam.

    Scale: narrow Arrow-batched map, ≤5 output rows per input row, no
    shuffle; triage rejects non-Y4M payloads at the gate."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    src = d.select(
        "doc_id",
        F.unhex(F.repeat(F.md5(F.col("text").cast("binary")), 8)).alias(
            "payload"
        ),
    )
    out_schema = (
        "doc_id bigint, frame_idx bigint, width bigint, height bigint, "
        "luma_sum bigint, frame_sha256 string"
    )

    def y4m_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        from graphsense_datafeed_spark.operators import imagecodec as _ic

        for pdf in batches:
            rows = {
                "doc_id": [],
                "frame_idx": [],
                "width": [],
                "height": [],
                "luma_sum": [],
                "frame_sha256": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)[:120]
                frames = [raw[i * 24 : (i + 1) * 24] for i in range(5)]
                stream = _ic.y4m_encode(frames, 4, 4, 25)
                w, h, fps = _ic.y4m_parse_header(stream)
                dw, dh, dfps, dec = _ic.y4m_decode(stream)
                for idx, fr in enumerate(dec):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["width"].append(dw)
                    rows["height"].append(dh)
                    rows["luma_sum"].append(sum(fr[:16]))
                    rows["frame_sha256"].append(
                        _hl.sha256(fr.hex().upper().encode()).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return src.mapInPandas(y4m_batches, out_schema)


@query(
    "multimodal_audio_features",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 8) AS h
        FROM documents WHERE doc_id < 200
    ), samples AS (
        SELECT doc_id,
               list_transform(range(0, 64), i -> CASE
                   WHEN CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                             AS BIGINT)
                        + 256 * CAST('0x' || substr(h, CAST(i * 4 + 3 AS INT),
                                                    2) AS BIGINT) >= 32768
                   THEN CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                             AS BIGINT)
                        + 256 * CAST('0x' || substr(h, CAST(i * 4 + 3 AS INT),
                                                    2) AS BIGINT) - 65536
                   ELSE CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                             AS BIGINT)
                        + 256 * CAST('0x' || substr(h, CAST(i * 4 + 3 AS INT),
                                                    2) AS BIGINT)
               END) AS pcm
        FROM media
    ), feats AS (
        SELECT doc_id,
               CAST(list_reduce(
                   list_transform(range(1, 64), i ->
                       CASE WHEN (pcm[CAST(i AS INT)] < 0)
                                 <> (pcm[CAST(i + 1 AS INT)] < 0)
                            THEN 1 ELSE 0 END),
                   (a, b) -> a + b) AS BIGINT) AS zcr,
               CAST(list_max(list_transform(pcm, s -> abs(s)))
                    AS BIGINT) AS peak_abs,
               CAST(list_reduce(list_transform(pcm, s -> s * s),
                                (a, b) -> a + b) AS BIGINT) AS sum_sq
        FROM samples
    )
    SELECT doc_id, zcr, peak_abs,
           CAST(FLOOR(sqrt(CAST(sum_sq AS DOUBLE) / 64) * 100) AS BIGINT)
               AS rms_e2,
           CASE WHEN sum_sq > 0 THEN
               CAST(FLOOR(CAST(peak_abs AS DOUBLE)
                          / sqrt(CAST(sum_sq AS DOUBLE) / 64)
                          * 10000) AS BIGINT)
           ELSE NULL END AS crest_e4
    FROM feats
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform FEATURE EXTRACTION through the real WAV codec path
    (round 7) — the step after multimodal_audio_wav's decode: each
    deterministic PCM clip is encoded to RIFF/WAVE, decoded back by
    the imagecodec WAV codec, and reduced to the first features every
    audio-curation pipeline computes — zero-crossing rate (spectral
    brightness proxy), peak amplitude, RMS energy, and crest factor
    (peak/RMS, the clipping/dynamics diagnostic that flags
    silence-padded or clipped clips before they reach training).

    The oracle re-derives the SAME int16 samples relationally and
    computes zcr/peak exactly in integers; RMS and crest are each one
    double chain (÷64 is an exact power-of-two scaling; IEEE sqrt is
    correctly rounded in both engines).  A decoder bug upstream
    breaks zcr/peak before it breaks the digests.

    Scale: one narrow Arrow-batched map, no shuffle."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    src = d.select(
        "doc_id",
        F.unhex(F.repeat(F.md5(F.col("text").cast("binary")), 8)).alias(
            "pcm"
        ),
    )
    out_schema = (
        "doc_id bigint, zcr bigint, peak_abs bigint, rms_e2 bigint, "
        "crest_e4 bigint"
    )

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math as _m
        import struct as _st

        from graphsense_datafeed_spark.operators import imagecodec as _ic

        for pdf in batches:
            rows = {
                "doc_id": [],
                "zcr": [],
                "peak_abs": [],
                "rms_e2": [],
                "crest_e4": [],
            }
            for doc_id, pcm in zip(pdf["doc_id"], pdf["pcm"]):
                payload = _ic.wav_encode(bytes(pcm), 8000, 1, 16)
                _ic.wav_parse_header(payload)
                _r, _c, _b, dec = _ic.wav_decode(payload)
                s = _st.unpack(f"<{len(dec) // 2}h", dec)
                zcr = sum(
                    1
                    for i in range(1, len(s))
                    if (s[i] < 0) != (s[i - 1] < 0)
                )
                peak = max(abs(v) for v in s)
                sum_sq = sum(v * v for v in s)
                rms = _m.sqrt(sum_sq / 64)
                rows["doc_id"].append(doc_id)
                rows["zcr"].append(zcr)
                rows["peak_abs"].append(peak)
                rows["rms_e2"].append(_m.floor(rms * 100))
                rows["crest_e4"].append(
                    _m.floor(peak / rms * 10000) if sum_sq > 0 else None
                )
            yield pd.DataFrame(rows)

    return src.mapInPandas(feat_batches, out_schema)


@query(
    "multimodal_video_scene_cut",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 8) AS h
        FROM documents WHERE doc_id < 200
    ), frames AS (
        SELECT doc_id, h, unnest(range(0, 5)) AS frame_idx FROM media
    ), luma AS (
        SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(list_reduce(list_transform(range(0, 16),
                    j -> CAST('0x' || substr(h,
                              CAST(frame_idx * 48 + j * 2 + 1 AS INT), 2)
                              AS BIGINT)),
                    (a, b) -> a + b) AS BIGINT) AS luma_sum
        FROM frames
    ), deltas AS (
        SELECT doc_id, frame_idx, luma_sum,
               luma_sum - lag(luma_sum) OVER (PARTITION BY doc_id
                                              ORDER BY frame_idx)
                   AS d_luma
        FROM luma
    )
    SELECT doc_id, frame_idx, luma_sum,
           CAST(COALESCE(d_luma, 0) AS BIGINT) AS d_luma,
           COALESCE(ABS(d_luma) > 400, FALSE) AS is_cut
    FROM deltas
    """,
)
def multimodal_video_scene_cut(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCENE-CUT detection over decoded video frames (round 7) — the
    analysis step after multimodal_video_y4m's decode: a hard cut
    shows as a large jump in frame luma energy, so flagging
    |Δluma| > threshold between consecutive decoded frames is the
    first-pass shot segmentation every video-curation pipeline runs
    (frame sampling for training picks one frame per shot, not per
    second).  The frames come through the REAL Y4M encode→triage→
    decode path; the oracle re-derives every luma sum relationally,
    so a decoder bug breaks the cut flags before anything else.

    Exact integer luma sums and deltas; the threshold compare is
    integer; frame 0 is never a cut (COALESCE).

    Scale: the decode map (≤5 rows per doc) + one doc-keyed lag
    window."""
    decoded = multimodal_video_y4m(spark, sf_dir).select(
        "doc_id", "frame_idx", "luma_sum"
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    deltas = decoded.select(
        "doc_id",
        "frame_idx",
        "luma_sum",
        (F.col("luma_sum") - F.lag("luma_sum").over(w)).alias("d_luma"),
    )
    return deltas.select(
        "doc_id",
        "frame_idx",
        "luma_sum",
        F.coalesce(F.col("d_luma"), F.lit(0)).cast("bigint").alias(
            "d_luma"
        ),
        F.coalesce(F.abs(F.col("d_luma")) > 400, F.lit(False)).alias(
            "is_cut"
        ),
    )


@query(
    "multimodal_image_luma_stats",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 12) AS hexpix
        FROM documents WHERE doc_id < 200
    ), px AS (
        SELECT doc_id,
               (299 * CAST(('0x' || substring(hexpix, 6 * i.i + 1, 2))
                           AS BIGINT)
                + 587 * CAST(('0x' || substring(hexpix, 6 * i.i + 3, 2))
                             AS BIGINT)
                + 114 * CAST(('0x' || substring(hexpix, 6 * i.i + 5, 2))
                             AS BIGINT)) // 1000 AS luma
        FROM media, generate_series(0, 63) AS i(i)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(luma) AS BIGINT) AS luma_sum,
           CAST(MIN(luma) AS BIGINT) AS luma_min,
           CAST(MAX(luma) AS BIGINT) AS luma_max,
           CAST(COUNT(*) FILTER (luma < 64) AS BIGINT) AS n_dark,
           CAST(COUNT(*) FILTER (luma >= 192) AS BIGINT) AS n_bright,
           CASE WHEN COUNT(*) FILTER (luma < 64) * 2 > COUNT(*)
                THEN 'under'
                WHEN COUNT(*) FILTER (luma >= 192) * 2 > COUNT(*)
                THEN 'over' ELSE 'ok' END AS exposure
    FROM px GROUP BY doc_id
    """,
)
def multimodal_image_luma_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image LUMA exposure census (round 10): decode each
    document's deterministic 8×8 RGB block through the REAL container
    round trip (the multimodal_decode_codec seam — PNG for even ids,
    PPM for odd, header-triaged), compute integer ITU-R 601 luma
    (299R + 587G + 114B)//1000 per pixel, and emit the exposure
    profile: sum/min/max, dark (<64) and bright (≥192) pixel counts,
    and an under/over/ok flag — the first-pass quality gate a
    vision-data pipeline runs before any model sees the image
    (near-black and blown-out frames poison contrastive training and
    waste tokens in captioning).

    The oracle pins the DECODE, not the plumbing: DuckDB re-derives
    every pixel byte relationally from the known hex and computes
    the identical integer luma — any filter-inversion bug in the PNG
    path shifts a byte and breaks the per-image sums.

    Exactness: luma is pure integer arithmetic; every output column
    is an exact count/sum.

    Scale: one narrow Arrow-batched map (decode) + one keyed agg —
    no shuffle beyond the doc_id partial agg; the relational oracle
    side is fixture-bounded by construction."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    src = d.select(
        "doc_id",
        F.unhex(F.repeat(F.md5(F.col("text").cast("binary")), 12)).alias(
            "pixels"
        ),
    )
    out_schema = (
        "doc_id bigint, n_px bigint, luma_sum bigint, luma_min bigint, "
        "luma_max bigint, n_dark bigint, n_bright bigint, exposure string"
    )

    def luma_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from graphsense_datafeed_spark.operators import imagecodec as _ic

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_px", "luma_sum", "luma_min", "luma_max",
                "n_dark", "n_bright", "exposure",
            )}
            for doc_id, px in zip(pdf["doc_id"], pdf["pixels"]):
                px = bytes(px)
                if doc_id % 2 == 0:
                    payload = _ic.png_encode(px, 8, 8, 3, int(doc_id % 5))
                    _ic.png_parse_header(payload)
                    _, _, _, dec = _ic.png_decode(payload)
                else:
                    payload = _ic.ppm_encode(px, 8, 8)
                    _, _, _, dec = _ic.ppm_decode(payload)
                lumas = [
                    (299 * dec[3 * i] + 587 * dec[3 * i + 1]
                     + 114 * dec[3 * i + 2]) // 1000
                    for i in range(64)
                ]
                n_dark = sum(1 for v in lumas if v < 64)
                n_bright = sum(1 for v in lumas if v >= 192)
                rows["doc_id"].append(doc_id)
                rows["n_px"].append(64)
                rows["luma_sum"].append(sum(lumas))
                rows["luma_min"].append(min(lumas))
                rows["luma_max"].append(max(lumas))
                rows["n_dark"].append(n_dark)
                rows["n_bright"].append(n_bright)
                rows["exposure"].append(
                    "under" if n_dark * 2 > 64
                    else "over" if n_bright * 2 > 64
                    else "ok"
                )
            yield pd.DataFrame(rows)

    return src.mapInPandas(luma_batches, out_schema)


@query(
    "multimodal_payload_entropy",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 12) AS hexpix
        FROM documents WHERE doc_id < 200
    ), bytes_ AS (
        SELECT doc_id,
               CAST(('0x' || substring(hexpix, 2 * i.i + 1, 2)) AS BIGINT)
                   AS b
        FROM media, generate_series(0, 191) AS i(i)
    ), hist AS (
        SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM bytes_ GROUP BY 1, 2
    ), terms AS (
        SELECT doc_id,
               CAST(FLOOR(-(CAST(c AS DOUBLE) / 192.0)
                          * LN(CAST(c AS DOUBLE) / 192.0) / LN(2.0)
                          * 1000000000) AS BIGINT) AS term_e9,
               c
        FROM hist
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes,
           CAST(MAX(c) AS BIGINT) AS mode_count,
           CAST(SUM(term_e9) AS BIGINT) AS entropy_bits_e9
    FROM terms GROUP BY doc_id
    """,
)
def multimodal_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-ENTROPY gate for binary payloads (round 10): per blob,
    the Shannon entropy of its byte histogram — the standard triage
    scalar for opaque media columns BEFORE any decoder runs: entropy
    near 8 bits/byte means compressed/encrypted content (decode it,
    don't re-compress it), near 0 means padding/corruption, and a
    sudden corpus-wide shift means an upstream pipeline started
    double-compressing.  Complements multimodal_parse_header
    (structure triage) with the content-statistics triage; both run
    at the gate so undecodable blobs surface before feature
    extraction.

    Fully relational BOTH engines — no Python in the Spark path: hex
    pairs explode via a bounded sequence, the histogram is a keyed
    count, and each −p·log₂p term floors e9 BEFORE the order-free
    bigint sum (the ts_records_test harmonic discipline applied to
    entropy).

    Scale: |payload_bytes| explode per blob is the same row volume
    the decoder touches anyway; two map-side-combinable aggs; at
    100 TB the explode runs per Arrow batch on fixed-size payload
    prefixes (first N KB is the standard triage window)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.select(
        "doc_id",
        F.repeat(F.md5(F.col("text").cast("binary")), 12).alias("hexpix"),
    )
    bytes_ = media.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(191))).alias("i"),
        "hexpix",
    ).select(
        "doc_id",
        hex_int(F.col("hexpix"), 2 * F.col("i") + 1, 2).alias("b"),
    )
    hist = bytes_.groupBy("doc_id", "b").agg(
        F.count("*").cast("bigint").alias("c")
    )
    p = F.col("c").cast("double") / 192.0
    terms = hist.select(
        "doc_id",
        "c",
        F.floor(-p * F.log(p) / F.log(F.lit(2.0)) * 1000000000)
        .cast("bigint")
        .alias("term_e9"),
    )
    return terms.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_distinct_bytes"),
        F.max("c").cast("bigint").alias("mode_count"),
        F.sum("term_e9").cast("bigint").alias("entropy_bits_e9"),
    )


@query(
    "multimodal_audio_silence_census",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 8) AS h
        FROM documents WHERE doc_id < 200
    ), samp AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               CASE WHEN CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                              AS BIGINT)
                         + 256 * CAST('0x' || substr(h,
                              CAST(i * 4 + 3 AS INT), 2) AS BIGINT) >= 32768
                    THEN CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                              AS BIGINT)
                         + 256 * CAST('0x' || substr(h,
                              CAST(i * 4 + 3 AS INT), 2) AS BIGINT) - 65536
                    ELSE CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                              AS BIGINT)
                         + 256 * CAST('0x' || substr(h,
                              CAST(i * 4 + 3 AS INT), 2) AS BIGINT)
               END AS s
        FROM media, generate_series(0, 63) AS t(i)
    ), flagged AS (
        SELECT doc_id, i, s,
               CASE WHEN abs(s) < 1024 THEN 1 ELSE 0 END AS silent
        FROM samp
    ), runs AS (
        SELECT doc_id,
               i - row_number() OVER (PARTITION BY doc_id
                                      ORDER BY i) AS island
        FROM flagged WHERE silent = 1
    ), run_len AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS rl
        FROM runs GROUP BY doc_id, island
    ), agg AS (
        SELECT f.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(f.silent) AS BIGINT) AS n_silent,
               CAST(COUNT(*) FILTER (abs(f.s) >= 32700) AS BIGINT)
                   AS n_clipped,
               CAST((COUNT(*) - SUM(f.silent)) * 1000000 // COUNT(*)
                    AS BIGINT) AS active_share_e6
        FROM flagged f GROUP BY f.doc_id
    )
    SELECT a.doc_id, a.n_samples, a.n_silent, a.n_clipped,
           a.active_share_e6,
           CAST(COALESCE(MAX(r.rl), 0) AS BIGINT) AS longest_silent_run
    FROM agg a LEFT JOIN run_len r ON r.doc_id = a.doc_id
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def multimodal_audio_silence_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AUDIO SILENCE / CLIPPING census (round 10) through the real
    WAV round trip (multimodal_audio_wav's encode→triage→decode
    seam): per clip, the silent-sample count (|s| < 1024 ≈ −30 dBFS
    for int16), the LONGEST silent run (gaps-islands over the sample
    index — the "is this clip mostly dead air?" readout that decides
    trimming), the clipping count (|s| ≥ 32700, rail-adjacent), and
    the active share.  These are the triage features every
    speech-data pipeline computes before transcription: mostly-silent
    and clipped clips waste ASR compute and poison training.

    The oracle re-derives every int16 sample relationally (hex-pair
    two's-complement) and runs the SAME islands computation in SQL —
    a decoder alignment bug shifts a byte and breaks the run lengths.

    Exactness: all counts and run lengths are exact integers; the
    share is one exact integer division.

    Scale: one Arrow-batched decode map + per-clip bounded sample
    logic (the islands window partitions by doc_id over
    |samples-per-clip| rows)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    src = d.select(
        "doc_id",
        F.unhex(F.repeat(F.md5(F.col("text").cast("binary")), 8)).alias("pcm"),
    )
    out_schema = (
        "doc_id bigint, n_samples bigint, n_silent bigint, "
        "n_clipped bigint, active_share_e6 bigint, longest_silent_run bigint"
    )

    def census_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _st

        from graphsense_datafeed_spark.operators import imagecodec as _ic

        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "doc_id",
                    "n_samples",
                    "n_silent",
                    "n_clipped",
                    "active_share_e6",
                    "longest_silent_run",
                )
            }
            for doc_id, pcm in zip(pdf["doc_id"], pdf["pcm"]):
                pcm = bytes(pcm)
                payload = _ic.wav_encode(pcm, 8000, 1, 16)
                _ic.wav_parse_header(payload)
                _, _, _, dec = _ic.wav_decode(payload)
                samples = _st.unpack(f"<{len(dec) // 2}h", dec)
                n = len(samples)
                silent = [1 if abs(s) < 1024 else 0 for s in samples]
                n_sil = sum(silent)
                best = run = 0
                for flag in silent:
                    run = run + 1 if flag else 0
                    best = max(best, run)
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(n)
                rows["n_silent"].append(n_sil)
                rows["n_clipped"].append(
                    sum(1 for s in samples if abs(s) >= 32700)
                )
                rows["active_share_e6"].append((n - n_sil) * 1000000 // n)
                rows["longest_silent_run"].append(best)
            yield pd.DataFrame(rows)

    return src.mapInPandas(census_batches, out_schema)


@query(
    "multimodal_audio_clipping_census",
    """
    WITH media AS (
        SELECT doc_id, repeat(md5(text), 8) AS h
        FROM documents WHERE doc_id < 200
    ), samples AS (
        SELECT doc_id,
               list_transform(range(0, 64), i -> CASE
                   WHEN CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                             AS BIGINT)
                        + 256 * CAST('0x' || substr(h, CAST(i * 4 + 3 AS INT),
                                                    2) AS BIGINT) >= 32768
                   THEN CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                             AS BIGINT)
                        + 256 * CAST('0x' || substr(h, CAST(i * 4 + 3 AS INT),
                                                    2) AS BIGINT) - 65536
                   ELSE CAST('0x' || substr(h, CAST(i * 4 + 1 AS INT), 2)
                             AS BIGINT)
                        + 256 * CAST('0x' || substr(h, CAST(i * 4 + 3 AS INT),
                                                    2) AS BIGINT)
               END) AS pcm
        FROM media
    )
    SELECT doc_id,
           CAST(len(list_filter(pcm, s -> abs(s) >= 30000)) AS BIGINT)
               AS n_clipped,
           CAST(list_max(list_transform(pcm, s -> abs(s))) AS BIGINT)
               AS peak_abs,
           CAST(FLOOR(CAST(list_max(list_transform(pcm, s -> abs(s)))
                           AS DOUBLE)
                      / SQRT(CAST(list_reduce(list_transform(pcm,
                                                             s -> s * s),
                                              (a, b) -> a + b) AS DOUBLE)
                             / 64.0)
                      * 10000) AS BIGINT) AS crest_e4
    FROM samples ORDER BY doc_id
    """,
)
def multimodal_audio_clipping_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AUDIO CLIPPING / CREST-FACTOR CENSUS (round 11): per clip,
    count samples at or beyond the ±30000 rail (int16 clips at
    ±32767 — a recording that LIVES near the rail was clipped
    upstream even when no sample is exactly maxed) and the crest
    factor peak/RMS — the two first-pass audio-QC gates a speech
    corpus runs before feature extraction (clipped audio poisons
    spectral features; crest ≈ 1 flags square-wave/synthetic
    content, high crest flags transient-heavy clips).  Works on the
    same deterministic 64-sample int16 PCM blocks as
    multimodal_audio_wav, decoded PURE-SQL in both engines (hex-pair
    byte math + two's-complement) — no Python in the loop.

    Exactness: sample decode, clip counts, and peak are exact
    integers; the crest factor is ONE double chain (peak /
    sqrt(sumsq/64)) floored e4.

    Scale: narrow per-row transform over bounded 64-element arrays —
    no shuffle, no Python boundary."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    h = F.repeat(F.md5(F.col("text").cast("binary")), 8)
    idx = F.sequence(F.lit(0), F.lit(63))
    # materialize the pcm array once via transform over the index seq
    media = d.select("doc_id", h.alias("h"))

    def sample(i):
        lo = hex_int(F.col("h"), (i * 4 + 1).cast("int"), 2)
        u = lo + 256 * hex_int(F.col("h"), (i * 4 + 3).cast("int"), 2)
        return F.when(u >= 32768, u - 65536).otherwise(u)

    pcm = F.transform(idx, sample)
    withpcm = media.select("doc_id", pcm.alias("pcm"))
    absarr = F.transform(F.col("pcm"), lambda s: F.abs(s))
    sumsq = F.aggregate(
        F.transform(F.col("pcm"), lambda s: s * s),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    peak = F.array_max(absarr)
    return withpcm.select(
        "doc_id",
        F.size(F.filter(absarr, lambda s: s >= 30000))
        .cast("bigint")
        .alias("n_clipped"),
        peak.cast("bigint").alias("peak_abs"),
        F.floor(
            peak.cast("double") / F.sqrt(sumsq.cast("double") / 64.0) * 10000
        )
        .cast("bigint")
        .alias("crest_e4"),
    ).orderBy("doc_id")
