"""Multimodal-column operators (north-star X4): image/audio/video payloads
as opaque `binary` columns with typed metadata, plus the Spark-side plumbing
for decode/feature-extraction UDFs. SURVEY.md §2.9.

The testdata `documents` table has no binary column, so `multimodal_project`
*constructs* one deterministically (md5 bytes of the text — a stand-in for
real image bytes) and exercises the full plumbing: BinaryType column →
struct metadata → byte-level functions → base64 round trip. The decode /
feature-extract stage (`decode_image_features`) is a real `mapInPandas`
pipeline over Arrow batches whose actual pixel decoding is stubbed
(image libs are not in this container — FIXTURES.md) behind a deterministic
fake; schema, batching and partitioning are real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..data import load_table
from ..registry import query


@query(
    "multimodal_project",
    oracle="""
    SELECT doc_id,
           OCTET_LENGTH(unhex(md5(text))) AS img_bytes,
           to_base64(unhex(md5(text))) AS img_b64,
           SUBSTR(text, 1, 32) AS caption,
           lang AS meta_lang,
           source AS meta_source,
           CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS meta_tokens
    FROM documents
    """,
)
def multimodal_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: one row = text + binary payload + typed metadata struct. Builds
    the binary column (`unhex(md5(text))` — 16 deterministic bytes), a
    metadata struct, then projects struct fields and byte-level functions.
    Parquet stores BinaryType natively, so this row shape round-trips
    columnar at 100 TB with the binary column untouched unless selected
    (column pruning skips the heavy bytes for metadata-only queries)."""
    d = load_table(spark, sf_dir, "documents")
    img = F.unhex(F.md5(F.col("text")))
    meta = F.struct(
        F.col("lang").alias("lang"),
        F.col("source").alias("source"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("tokens"),
    )
    rows = d.select("doc_id", "text", img.alias("image"), meta.alias("meta"))
    return rows.select(
        "doc_id",
        F.octet_length("image").alias("img_bytes"),
        F.base64("image").alias("img_b64"),
        F.substring("text", 1, 32).alias("caption"),
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.source").alias("meta_source"),
        F.col("meta.tokens").alias("meta_tokens"),
    )


IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _decode_stub(payload: bytes) -> tuple[int, int, int, int, float, list[float]]:
    """Decode the synthetic struct-packed image format: byte 0 and the
    last byte are header fields (width/height, 16 + b % 64), every byte is
    a grayscale pixel sample. A real deployment replaces this body with
    e.g. PIL/torchvision decode — the image libs are absent in this
    container (FIXTURES.md) — but because the format is bytes-defined, an
    oracle can recompute every emitted feature from the payload bytes in
    SQL, which is what promotes `multimodal_decode` to a full value
    verdict. The mean divides by a power of two (16-byte payloads) so the
    float is exact; min/max/width/height are ints."""
    if not payload:
        return 0, 0, 0, 0, 0.0, [0.0] * 8
    w = 16 + payload[0] % 64
    h = 16 + payload[-1] % 64
    mean = float(sum(payload) / len(payload))
    feat = [float(payload[i % len(payload)]) / 255.0 for i in range(8)]
    return w, h, min(payload), max(payload), mean, feat


def decode_image_features(images: DataFrame) -> DataFrame:
    """The multimodal slow path done right: `mapInPandas` over Arrow record
    batches — bytes never leave the executor, Python sees vectorized
    batches, output schema is declared. Input: (doc_id long, image binary).

    At 100 TB: repartition upstream so each task holds O(100 MB) of
    payloads; spark.sql.execution.arrow.maxRecordsPerBatch bounds peak
    Python memory."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["image"].map(lambda b: len(b) if b is not None else 0),
            }
            decoded = pdf["image"].map(lambda b: _decode_stub(b or b""))
            out["width"] = decoded.map(lambda t: t[0])
            out["height"] = decoded.map(lambda t: t[1])
            out["px_min"] = decoded.map(lambda t: t[2])
            out["px_max"] = decoded.map(lambda t: t[3])
            out["mean_intensity"] = decoded.map(lambda t: t[4])
            out["feature"] = decoded.map(lambda t: t[5])
            yield pd.DataFrame(out)

    return images.mapInPandas(decode, schema=IMAGE_FEATURE_SCHEMA)


@query(
    "multimodal_decode",
    # Oracle recomputes the decode from the payload bytes themselves: the
    # payload is unhex(md5(text)), so each of its 16 bytes is two hex
    # digits of md5(text) — extracted with strpos arithmetic in a list
    # comprehension. width/height/px_min/px_max are pure byte ints; the
    # mean divides by 16 (dyadic), so the float is bit-exact both sides.
    # The float32 `feature` array stays kernel-internal: 3 of 256 possible
    # b/255 values round differently through float32, so it is deliberately
    # NOT in the checked projection.
    oracle="""
    WITH b AS (
        SELECT doc_id,
               [ (strpos('0123456789abcdef', substr(md5(text), 2*i+1, 1)) - 1)
                 * 16
                 + (strpos('0123456789abcdef', substr(md5(text), 2*i+2, 1)) - 1)
                 FOR i IN range(16) ] AS px
        FROM documents)
    SELECT doc_id,
           CAST(16 AS BIGINT) AS n_bytes,
           CAST(16 + px[1] % 64 AS BIGINT) AS width,
           CAST(16 + px[16] % 64 AS BIGINT) AS height,
           CAST(list_min(px) AS BIGINT) AS px_min,
           CAST(list_max(px) AS BIGINT) AS px_max,
           ROUND(list_sum(px) / 16.0, 6) AS mean_intensity
    FROM b
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4b: the decode/feature-extract pipeline end-to-end on constructed
    payloads: binary column → mapInPandas(Arrow) → typed features. The
    decode kernel (`_decode_stub`) reads the synthetic struct-packed image
    format, so every checked output is recomputable from the payload bytes
    by the SQL oracle — a full value verdict on the mapInPandas path."""
    d = load_table(spark, sf_dir, "documents")
    images = d.select("doc_id", F.unhex(F.md5(F.col("text"))).alias("image"))
    feats = decode_image_features(images)
    return feats.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        "px_min",
        "px_max",
        F.round("mean_intensity", 6).alias("mean_intensity"),
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("thumb_16b", T.BinaryType()),
    ]
)

N_FRAMES = 4
FAKE_FPS_MS = 40  # 25 "fps"


def sample_frames(videos: DataFrame, n_frames: int = N_FRAMES) -> DataFrame:
    """Frame-sampling + resize plumbing for video payloads: a flat-map
    (one payload row → n_frames frame rows) via ``mapInPandas``. The
    "decode" is a stub (byte-slice frames, 16-byte strided 'thumbnail'
    standing in for a resize kernel — real ffmpeg/PIL is absent here,
    FIXTURES.md); the Spark contract is real: declared output schema,
    Arrow batches, bytes never cross the driver, output cardinality
    n_frames × input. At 100 TB bound per-task payload bytes upstream
    (repartition) and per-batch rows (arrow.maxRecordsPerBatch)."""

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[int, int, int, bytes, bytes]] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["video"]):
                payload = payload or b""
                step = max(len(payload) // n_frames, 1)
                for f in range(n_frames):
                    frame = payload[f * step : (f + 1) * step]
                    thumb = bytes(frame[:: max(len(frame) // 16, 1)][:16])
                    out.append((int(doc_id), f, f * FAKE_FPS_MS, frame, thumb))
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "ts_ms", "frame", "thumb_16b"]
            )

    return videos.mapInPandas(explode_frames, schema=FRAME_SCHEMA)


@query(
    "multimodal_frame_sample",
    # Oracle recomputes the frame sampler from the payload bytes: the
    # payload is unhex(sha256(text)) (32 bytes), so frame f is bytes
    # [8f, 8f+8) = hex digits [16f+1, 16f+16] of sha256(text); the 16-byte
    # strided "thumbnail" of an 8-byte frame is the frame itself. Every
    # emitted column (sizes, timestamps, base64 thumb) is therefore pure
    # SQL over the same bytes — the flat-map mapInPandas path gets a full
    # value verdict including its 4x output cardinality.
    oracle=f"""
    WITH f AS (
        SELECT doc_id, sha256(text) AS hx, UNNEST(range({N_FRAMES})) AS fi
        FROM documents)
    SELECT doc_id,
           CAST(fi AS BIGINT) AS frame_idx,
           CAST(fi * {FAKE_FPS_MS} AS BIGINT) AS ts_ms,
           CAST(8 AS BIGINT) AS frame_bytes,
           to_base64(unhex(substr(hx, fi * 16 + 1, 16))) AS thumb_b64
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4c: video frame-sample + resize plumbing end-to-end on constructed
    payloads (sha2-derived bytes stand in for video): binary column →
    flat-map mapInPandas → (doc_id, frame_idx, ts_ms, frame, thumb) rows.
    Exactly N_FRAMES rows per document (asserted in tests); the byte-defined
    frame format makes every output oracle-recomputable in SQL."""
    d = load_table(spark, sf_dir, "documents")
    videos = d.select(
        "doc_id", F.unhex(F.sha2(F.col("text"), 256)).alias("video")
    )
    frames = sample_frames(videos)
    return frames.select(
        "doc_id",
        "frame_idx",
        "ts_ms",
        F.octet_length("frame").alias("frame_bytes"),
        F.base64("thumb_16b").alias("thumb_b64"),
    )


@query(
    "multimodal_payload_dedup",
    oracle="""
    SELECT md5(lang || '|' || source) AS payload_md5,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM documents GROUP BY 1
    """,
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate detection over an opaque BINARY payload column —
    the multimodal twin of `dedup_exact`: group directly ON the binary
    bytes (asset dedup in an image/audio corpus, where identical files
    recur across crawls). The shuffle key IS the BinaryType column —
    pinning that binary keys hash-partition, compare and aggregate like
    any other key at 100 TB; for multi-MB real payloads the production
    variant groups on a fixed-width digest column instead, which is
    byte-for-byte this same plan with `md5(payload)` as the key. Payloads
    are derived deterministically (md5 bytes of lang|source) so duplicate
    groups exist by construction; hex is only applied to the OUTPUT row
    (the key never leaves the JVM as a string)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        F.unhex(F.md5(F.concat_ws("|", "lang", "source"))).alias("payload"),
    )
    groups = payloads.groupBy("payload").agg(
        F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_doc")
    )
    return groups.select(
        F.lower(F.hex("payload")).alias("payload_md5"), "n_dups", "canonical_doc"
    )


AUDIO_N = 64  # samples per synthetic clip (4 md5 blocks; power of two)
AUDIO_FRAME = 16  # samples per analysis frame (power of two => exact means)

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("rms_f0", T.DoubleType()),
        T.StructField("rms_f1", T.DoubleType()),
        T.StructField("rms_f2", T.DoubleType()),
        T.StructField("rms_f3", T.DoubleType()),
    ]
)


def extract_audio_features(clips: DataFrame) -> DataFrame:
    """Audio feature extraction over Arrow batches — the audio member of
    the multimodal mapInPandas family (images: decode_image_features;
    video: sample_frames). Input (doc_id long, audio binary); bytes are
    unsigned 8-bit PCM samples. A real deployment swaps the numpy body
    for librosa/torchaudio (absent in this container — FIXTURES.md),
    but the features here are REAL signal measures computed from real
    bytes, not stubs: peak amplitude, midline zero-crossing count, and
    RMS energy (clip + 4 frames). Every division is by a power of two
    and IEEE sqrt is correctly rounded, so the floats are bit-exact
    cross-engine with no rounding step."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["audio"]):
                s = np.frombuffer(payload or b"", dtype=np.uint8).astype(np.int64)
                n = len(s)
                if n == 0:
                    rows.append((doc_id, 0, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0))
                    continue
                rms = float(np.sqrt(float(int((s * s).sum())) / n))
                above = s >= 128
                zc = int((above[1:] != above[:-1]).sum())
                frames = []
                for f in range(4):
                    seg = s[f * AUDIO_FRAME:(f + 1) * AUDIO_FRAME]
                    frames.append(
                        float(np.sqrt(float(int((seg * seg).sum())) / len(seg)))
                    )
                rows.append(
                    (doc_id, n, int(s.max()), zc, rms, *frames)
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURE_SCHEMA.fields]
            )

    return clips.mapInPandas(extract, schema=AUDIO_FEATURE_SCHEMA)


# hex-pair -> byte value, via strpos arithmetic (the byte-defined-payload
# oracle idiom): hex digits of the 4 concatenated md5 blocks
_AUDIO_HEX = "md5(text) || md5(text || 'x') || md5(text || 'y') || md5(text || 'z')"
_AUDIO_BYTES = (
    "list_transform(range(1, 65), bi -> "
    f"(strpos('0123456789abcdef', substr({_AUDIO_HEX}, CAST(2 * bi - 1 AS INT), 1)) - 1) * 16"
    f" + (strpos('0123456789abcdef', substr({_AUDIO_HEX}, CAST(2 * bi AS INT), 1)) - 1))"
)


@query(
    "multimodal_audio_features",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, {_AUDIO_BYTES} AS s FROM documents),
    f AS (
        SELECT doc_id, s,
               CAST(len(s) AS BIGINT) AS n_samples,
               CAST(list_max(s) AS BIGINT) AS peak,
               CAST(list_sum(list_transform(range(1, 64), zi ->
                    CASE WHEN (s[CAST(zi AS INT)] >= 128)
                              <> (s[CAST(zi + 1 AS INT)] >= 128)
                         THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings,
               SQRT(CAST(list_sum(list_transform(s, x -> x * x)) AS DOUBLE)
                    / 64) AS rms
        FROM b)
    SELECT doc_id, n_samples, peak, zero_crossings, rms,
           SQRT(CAST(list_sum(list_transform(s[1:16], x -> x * x)) AS DOUBLE)
                / 16) AS rms_f0,
           SQRT(CAST(list_sum(list_transform(s[17:32], x -> x * x)) AS DOUBLE)
                / 16) AS rms_f1,
           SQRT(CAST(list_sum(list_transform(s[33:48], x -> x * x)) AS DOUBLE)
                / 16) AS rms_f2,
           SQRT(CAST(list_sum(list_transform(s[49:64], x -> x * x)) AS DOUBLE)
                / 16) AS rms_f3
    FROM f ORDER BY doc_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X269: audio feature extraction — completes the modality set
    (image decode X4b, video frame-sample X4c, asset dedup X125) with
    the audio member: synthetic 64-sample 8-bit PCM clips (bytes
    defined as 4 md5 blocks of the text, so the ORACLE recomputes every
    sample from hex — the byte-defined-payload idiom), features =
    peak, midline zero-crossing count, clip RMS and 4 frame RMS values
    — the standard VAD/segmentation front-end measures. The kernel is
    a REAL numpy signal computation inside mapInPandas over Arrow
    batches (librosa/torchaudio would drop in for real codecs); floats
    are BIT-EXACT cross-engine because every mean divides by a power
    of two and IEEE sqrt is correctly rounded — no rounding column
    anywhere. Plan: in-row payload build, one Arrow stage, no shuffle
    at all; at 100 TB the only knob is records-per-batch for Python
    peak memory (multimodal.py:107 note)."""
    docs = load_table(spark, sf_dir, "documents")
    clips = docs.select(
        "doc_id",
        F.unhex(
            F.concat(
                F.md5(F.col("text")),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
                F.md5(F.concat(F.col("text"), F.lit("z"))),
            )
        ).alias("audio"),
    )
    return extract_audio_features(clips).orderBy("doc_id")


AHASH_T = 2  # max Hamming distance (of 64 bits) for a near-dup pair

# The 64-bit hash's 4 x 16-bit band CTEs, shared verbatim by the
# multimodal_image_ahash oracle and the multimodal_dup_clusters oracle
# (which clusters the same pair set).
_AHASH_SQL = f"""
    cc AS MATERIALIZED (
        SELECT doc_id,
               ((strpos('0123456789abcdef', substr(md5(wd), 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(md5(wd), 2, 1)) - 1))
                   % 64 AS cell,
               COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS wd
              FROM documents)
        GROUP BY 1, 2),
    tot AS MATERIALIZED (SELECT doc_id, SUM(c) AS total FROM cc GROUP BY 1),
    hw AS MATERIALIZED (
        SELECT cc.doc_id,
               CAST(COALESCE(SUM(CASE WHEN cell // 16 = 0 AND 64 * c > total
                   THEN 1 << (15 - CAST(cell % 16 AS INT)) END), 0)
                   AS BIGINT) AS b0,
               CAST(COALESCE(SUM(CASE WHEN cell // 16 = 1 AND 64 * c > total
                   THEN 1 << (15 - CAST(cell % 16 AS INT)) END), 0)
                   AS BIGINT) AS b1,
               CAST(COALESCE(SUM(CASE WHEN cell // 16 = 2 AND 64 * c > total
                   THEN 1 << (15 - CAST(cell % 16 AS INT)) END), 0)
                   AS BIGINT) AS b2,
               CAST(COALESCE(SUM(CASE WHEN cell // 16 = 3 AND 64 * c > total
                   THEN 1 << (15 - CAST(cell % 16 AS INT)) END), 0)
                   AS BIGINT) AS b3
        FROM cc JOIN tot USING (doc_id)
        GROUP BY cc.doc_id),
    hx AS MATERIALIZED (
        SELECT doc_id,
               printf('%04x', b0) || printf('%04x', b1)
               || printf('%04x', b2) || printf('%04x', b3) AS hash,
               b0, b1, b2, b3
        FROM hw),
    hl AS MATERIALIZED (          SELECT doc_id, 0 AS band_idx, b0 AS bv FROM hx
           UNION ALL SELECT doc_id, 1, b1 FROM hx
           UNION ALL SELECT doc_id, 2, b2 FROM hx
           UNION ALL SELECT doc_id, 3, b3 FROM hx),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM hl a JOIN hl b
          ON a.band_idx = b.band_idx AND a.bv = b.bv
         AND a.doc_id < b.doc_id),
    pairs AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b, ha.hash AS hash_a, hb.hash AS hash_b,
               CAST(bit_count(xor(ha.b0, hb.b0))
                    + bit_count(xor(ha.b1, hb.b1))
                    + bit_count(xor(ha.b2, hb.b2))
                    + bit_count(xor(ha.b3, hb.b3)) AS BIGINT) AS hamming
        FROM cand c
        JOIN hx ha ON ha.doc_id = c.doc_a
        JOIN hx hb ON hb.doc_id = c.doc_b
        WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
              + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
              <= {AHASH_T})
"""


@query(
    "multimodal_image_ahash",
    # Oracle recomputes the 64-bit perceptual hash from the text-defined
    # pixel grid (word-count sketch: cell = first md5 byte of the word
    # mod 64), bands it 4 x 16 bits, joins candidates on the composite
    # (band_idx, band_value) key, popcount-verifies. The bit rule is the
    # INTEGER compare 64*c > total — no float mean anywhere, so the hash
    # is engine-exact by construction.
    oracle=f"""
    WITH {_AHASH_SQL}
    SELECT doc_a, doc_b, hash_a, hash_b, hamming
    FROM pairs
    ORDER BY doc_a, doc_b
    """,
)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X323: perceptual average-hash near-duplicate detection over the
    image payload column — the IMAGE member of the dedup ladder
    (dedup_simhash_verified's move, one modality over), on the standard
    64-bit (8x8) aHash: bit i = [pixel_i > mean], hashes within Hamming
    distance {AHASH_T} are near-dups. The synthetic 8x8 "thumbnail" is a
    64-cell word-count sketch of the document text (cell = first md5
    byte of the word mod 64, pixel = cell count), so near-duplicate
    TEXTS produce near-equal thumbnails — the synthetic payload models
    the property real decoded thumbnails have, and every pixel is
    SQL-recomputable. Determinism: the mean compare is the INTEGER
    cross-multiplication 64*c_i > total (no float mean can straddle an
    ULP). Scale: candidates come from 4-band LSH with 16-BIT band keys
    — the band-key domain is 2^16 per band and grows with the signature
    (vs the 5-6-bit bands this replaced, whose 32-64-value domains made
    pair work Theta(N^2/64) at any corpus size); pigeonhole over 4
    bands guarantees total recall for pairs within 3 errors >= the
    threshold {AHASH_T}, then the exact popcount on the banded XOR
    verifies — recall proven by hash-equality with the oracle's pair
    set. Plan: sketch = one explode + keyed count agg (shuffle on
    doc_id, the same key every downstream stage reuses), bands as one
    conditional-sum agg, ONE composite-key equi-join on (band_idx,
    band_value) for candidates + two hash-joins back for the verify.
    At 100 TB: band buckets bound pair work exactly as in text MinHash;
    a real deployment swaps the word sketch for decoded thumbnails and
    keeps every plan edge."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("wd"))
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("wd"), 1, 2), 16, 10).cast("long")
                % 64
            ).alias("cell"),
        )
        .groupBy("doc_id", "cell")
        .agg(F.count("*").alias("c"))
    )
    tot = cells.groupBy("doc_id").agg(F.sum("c").alias("total"))
    wrow = cells.join(tot, "doc_id").select(
        "doc_id",
        F.expr("int(cell DIV 16)").alias("band_idx"),
        F.when(
            F.col("c") * 64 > F.col("total"),
            F.expr("shiftleft(bigint(1), 15 - int(cell % 16))"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("w"),
    )
    h = wrow.groupBy("doc_id").agg(
        *[
            F.coalesce(F.sum(F.when(F.col("band_idx") == b, F.col("w"))), F.lit(0))
            .cast("long")
            .alias(f"b{b}")
            for b in range(4)
        ]
    )
    hx = h.withColumn(
        "hash",
        F.concat(
            *[F.lpad(F.lower(F.hex(F.col(f"b{b}"))), 4, "0") for b in range(4)]
        ),
    )
    stack = "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) as (band_idx, bv)"
    la = hx.selectExpr("doc_id as doc_a", stack)
    lb = hx.selectExpr("doc_id as doc_b", stack)
    cand = (
        la.join(lb, ["band_idx", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = hx.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hash").alias("hash_a"),
        *[F.col(f"b{b}").alias(f"xa{b}") for b in range(4)],
    )
    hb = hx.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hash").alias("hash_b"),
        *[F.col(f"b{b}").alias(f"xb{b}") for b in range(4)],
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn(
            "hamming",
            sum(
                F.expr(f"bit_count(xa{b} ^ xb{b})") for b in range(4)
            ).cast("long"),
        )
        .filter(F.col("hamming") <= AHASH_T)
        .select("doc_a", "doc_b", "hash_a", "hash_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@query(
    "multimodal_dup_clusters",
    oracle=f"""
    WITH {_AHASH_SQL},
    edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b, doc_a FROM pairs),
    -- min-label iteration with POINTER JUMPING, unrolled (lab_r+1 =
    -- least(own, min neighbor label, label-of-own-label)): O(|V|) rows
    -- per round and logarithmic convergence, replacing the recursive
    -- transitive closure whose (node, label) set is quadratic in
    -- component size (sum K^2 was ~1.1e8 at the 10x sweep -- hundreds
    -- of GB of UNION-dedup state). 18 rounds reach the
    -- fixpoint for any component up to 2^18 nodes; the
    -- tested corpora are orders of magnitude below that, and any
    -- shortfall would surface as a hash mismatch against the Spark
    -- fixpoint, never silently.
    lab0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl
                          FROM documents),
    lab1 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab0 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab0 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab0 pj ON pj.node = v.lbl),
    lab2 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab1 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab1 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab1 pj ON pj.node = v.lbl),
    lab3 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab2 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab2 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab2 pj ON pj.node = v.lbl),
    lab4 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab3 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab3 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab3 pj ON pj.node = v.lbl),
    lab5 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab4 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab4 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab4 pj ON pj.node = v.lbl),
    lab6 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab5 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab5 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab5 pj ON pj.node = v.lbl),
    lab7 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab6 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab6 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab6 pj ON pj.node = v.lbl),
    lab8 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab7 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab7 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab7 pj ON pj.node = v.lbl),
    lab9 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab8 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab8 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab8 pj ON pj.node = v.lbl),
    lab10 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab9 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab9 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab9 pj ON pj.node = v.lbl),
    lab11 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab10 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab10 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab10 pj ON pj.node = v.lbl),
    lab12 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab11 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab11 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab11 pj ON pj.node = v.lbl),
    lab13 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab12 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab12 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab12 pj ON pj.node = v.lbl),
    lab14 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab13 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab13 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab13 pj ON pj.node = v.lbl),
    lab15 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab14 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab14 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab14 pj ON pj.node = v.lbl),
    lab16 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab15 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab15 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab15 pj ON pj.node = v.lbl),
    lab17 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab16 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab16 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab16 pj ON pj.node = v.lbl),
    lab18 AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl,
                     COALESCE(nm.m, v.lbl),
                     COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM lab17 v
        LEFT JOIN (SELECT e.src AS node, MIN(l.lbl) AS m
                   FROM edges e JOIN lab17 l ON e.dst = l.node
                   GROUP BY e.src) nm ON nm.node = v.node
        LEFT JOIN lab17 pj ON pj.node = v.lbl)
    -- convergence guard (ADVICE r06): the 18-round bound is proven for
    -- pure pointer doubling, not for this combined min-neighbor +
    -- label-of-label operator — so under-convergence must fail loudly
    -- IN the oracle (sentinel row => rows/hash mismatch), not silently
    -- via a downstream value diff. lab18 <> lab17 anywhere means the
    -- chain had not reached its fixpoint.
    SELECT node AS doc_id, lbl AS cluster_id,
           (node = lbl) AS is_canonical
    FROM lab18
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), FALSE
    WHERE EXISTS (SELECT 1 FROM lab18 a JOIN lab17 b
                  ON a.node = b.node AND a.lbl <> b.lbl)
    """,
)
def multimodal_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X334: duplicate-cluster resolution for the IMAGE modality — the
    stage after multimodal_image_ahash (X323) pair generation, closing
    the image dedup ladder the way dedup_clusters closes the text one:
    near-dup pairs -> connected components (`min_label_components`:
    iterative min-label propagation, label-sum fixpoint) -> one
    canonical payload per cluster (min doc_id). Perceptual near-dup is
    not transitive, so clustering is a POLICY decision this operator
    makes explicit — the cluster is the union-find closure of the
    Hamming<= {AHASH_T} relation, exactly what the recursive-CTE oracle
    computes. At 100 TB the component rounds ship |V|+|E| rows each
    (O(diameter) rounds; near-dup clusters are almost-cliques); pair
    generation stays band-bounded upstream."""
    from .dedup import min_label_components

    pairs = multimodal_image_ahash(spark, sf_dir).select("doc_a", "doc_b")
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    return min_label_components(pairs, nodes).select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_canonical"),
    )


SCENE_T = 1000  # L1 byte-distance threshold for a scene cut

SCENE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("l1_dist", T.LongType()),
        T.StructField("is_cut", T.IntegerType()),
    ]
)


@query(
    "multimodal_scene_change",
    # Oracle recomputes the frame differ from the payload bytes: frame f
    # of the sha256-derived video is hex digits [16f+1, 16f+16]; the L1
    # distance sums |b_i - b'_i| over the 8 aligned bytes of consecutive
    # frames — pure integer strpos arithmetic (the multimodal_decode
    # technique), so the mapInPandas kernel gets a full value verdict.
    oracle=f"""
    WITH fb AS (
        SELECT doc_id, fi,
               [ (strpos('0123456789abcdef',
                         substr(sha256(text), fi * 16 + 2 * i + 1, 1)) - 1)
                 * 16
                 + (strpos('0123456789abcdef',
                           substr(sha256(text), fi * 16 + 2 * i + 2, 1)) - 1)
                 FOR i IN range(8) ] AS px
        FROM documents, (SELECT UNNEST(range({N_FRAMES})) AS fi)),
    d AS (
        SELECT a.doc_id, b.fi AS frame_idx,
               CAST(list_sum([ABS(a.px[i + 1] - b.px[i + 1])
                              FOR i IN range(8)]) AS BIGINT) AS l1_dist
        FROM fb a JOIN fb b ON a.doc_id = b.doc_id AND b.fi = a.fi + 1)
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, l1_dist,
           CAST(CASE WHEN l1_dist > {SCENE_T} THEN 1 ELSE 0 END AS INT)
               AS is_cut
    FROM d
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_scene_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X345: scene-change detection over the video payload column — the
    frame-differencing stage of every video-curation pipeline (shot
    segmentation before frame dedup/captioning): consecutive sampled
    frames are compared by L1 byte distance and a cut fires above a
    threshold. The kernel runs INSIDE the same mapInPandas flat-map as
    the frame sampler (bytes never leave the executor, one Arrow pass
    emits N-1 comparison rows per video); on real data the byte
    distance is computed on decoded thumbnails — here the byte-defined
    synthetic format (sha256-derived frames, the X4c contract) makes
    every distance an exact INTEGER the SQL oracle recomputes from the
    payload hex, so the whole kernel is value-checked, not stubbed.
    At 100 TB: payload-local computation, zero shuffle (the groupless
    map shape); threshold comparisons are integer."""
    d = load_table(spark, sf_dir, "documents")
    videos = d.select(
        "doc_id", F.unhex(F.sha2(F.col("text"), 256)).alias("video")
    )

    def diff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[int, int, int, int]] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["video"]):
                payload = payload or b""
                step = max(len(payload) // N_FRAMES, 1)
                frames = [
                    payload[f * step : (f + 1) * step]
                    for f in range(N_FRAMES)
                ]
                for f in range(1, N_FRAMES):
                    l1 = sum(
                        abs(a - b) for a, b in zip(frames[f - 1], frames[f])
                    )
                    out.append(
                        (int(doc_id), f, l1, 1 if l1 > SCENE_T else 0)
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "l1_dist", "is_cut"]
            )

    return (
        videos.mapInPandas(diff, schema=SCENE_SCHEMA)
        .orderBy("doc_id", "frame_idx")
    )
