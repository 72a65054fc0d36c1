"""Multimodal-column queries (E36): nested structs, binary payloads, and
the Arrow-batched feature-extraction plumbing (with stubbed decode)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.multimodal import attach_binary, fake_features, frame_sample
from .base import query


@query(
    "q46_struct_nested",
    oracle="""
    SELECT doc_id,
           lang AS meta_lang,
           source AS meta_source,
           n_chars AS meta_chars,
           lang || '/' || source AS meta_path,
           CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END AS size_class
    FROM documents
    ORDER BY doc_id
    """,
)
def q46_struct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a nested struct column, then access/flatten it — the typed-
    metadata model for multimodal rows. (Output is flattened scalars;
    struct JSON text differs between engines so isn't compared.)"""
    d = table(spark, sf_dir, "documents")
    nested = d.select(
        "doc_id",
        F.struct(
            F.col("lang"),
            F.col("source"),
            F.struct(F.col("n_chars").alias("chars")).alias("size"),
        ).alias("meta"),
    )
    return nested.select(
        "doc_id",
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.source").alias("meta_source"),
        F.col("meta.size.chars").alias("meta_chars"),
        # concat (null-propagating, as the oracle's ||), NOT concat_ws:
        # a path assembled from partial metadata ("en" with no source)
        # is a wrong path, not a shorter one (NULL-probe find, r10).
        F.concat(
            F.col("meta.lang"), F.lit("/"), F.col("meta.source")
        ).alias("meta_path"),
        F.when(F.col("meta.size.chars") > 300, "long")
        .otherwise("short")
        .alias("size_class"),
    ).orderBy("doc_id")


@query(
    "q47_binary_payload",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS checksum,
           substring(to_base64(encode(text)), 1, 24) AS b64_head
    FROM documents
    ORDER BY doc_id
    """,
)
def q47_binary_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary column plumbing: utf-8 payload bytes + length + checksum +
    base64 head. Parquet stores the payload in its own column chunk, so
    metadata-only queries never touch the bytes (column pruning)."""
    d = table(spark, sf_dir, "documents")
    media = attach_binary(d)
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.substring(F.base64("payload"), 1, 24).alias("b64_head"),
    ).orderBy("doc_id")


@query(
    "q48_media_features",
    oracle="""
    -- fb must be the first BYTE of the UTF-8 payload (the engine reads
    -- payload[0] of the media blob), not the first character's
    -- codepoint: ascii()/unicode() diverge from the leading byte for
    -- any non-ASCII first char (confusable-probe find, r12). The CASE
    -- re-derives the UTF-8 leading byte from the codepoint.
    WITH m AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS nb,
             unicode(substring(text,1,1)) AS u
      FROM documents WHERE text IS NOT NULL
    ),
    b AS (
      SELECT doc_id, nb,
             CASE WHEN text = '' THEN 0
                  WHEN u < 128 THEN u
                  WHEN u < 2048 THEN 192 + u // 64
                  WHEN u < 65536 THEN 224 + u // 4096
                  ELSE 240 + u // 262144 END AS fb
      FROM m
    )
    SELECT doc_id,
           nb AS n_bytes,
           CAST(nb % 640 AS INT) AS width,
           CAST(nb % 480 AS INT) AS height,
           CAST(ROUND(((nb * 1 + fb) % 256
                     + (nb * 2 + fb) % 256
                     + (nb * 3 + fb) % 256
                     + (nb * 4 + fb) % 256)::DOUBLE, 6) AS DOUBLE) AS feat_sum
    FROM b
    ORDER BY doc_id
    """,
)
def q48_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via Arrow-batched
    mapInPandas — the REAL plumbing for image/audio decode (the decoder
    itself is a deterministic stand-in; see operators.multimodal —
    decode libs aren't in this container). Oracle reproduces the fake
    features arithmetically, proving batch shape + schema fidelity."""
    d = table(spark, sf_dir, "documents")
    feats = fake_features(attach_binary(d))
    return feats.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        F.round(
            F.aggregate("features", F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("feat_sum"),
    ).orderBy("doc_id")


@query(
    "q84_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             sha256(text) AS checksum
      FROM documents WHERE text IS NOT NULL
    ),
    f AS (
      SELECT doc_id, checksum,
             CAST(n_bytes % 4 + 1 AS INT) AS n_frames,
             unnest(range(0, n_bytes % 4 + 1)) AS frame_id
      FROM m
    )
    SELECT doc_id,
           CAST(frame_id AS INT) AS frame_id,
           n_frames,
           frame_id * 40000 AS frame_us,
           md5(checksum || ':' || CAST(frame_id AS VARCHAR)) AS frame_hash
    FROM f
    ORDER BY doc_id, frame_id
    """,
)
def q84_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame fan-out (video frame sampling shape): one media row
    becomes N frame rows inside the Arrow batch — mapInPandas as a
    flat-map, with per-frame timestamps and hashes. Decoder stubbed
    deterministically (operators.multimodal.frame_sample); the oracle
    reproduces the fan-out arithmetically, proving the row-multiplying
    batch plumbing."""
    d = table(spark, sf_dir, "documents")
    frames = frame_sample(attach_binary(d))
    return frames.orderBy("doc_id", "frame_id")


@query(
    "q121_raw_decode",
    oracle="""
    WITH base AS (
        SELECT doc_id, CAST(8 + doc_id % 5 AS INT) AS w, 6 AS h
        FROM documents
    ),
    px AS (
        SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i
        FROM base
    )
    SELECT doc_id,
           CAST(MAX(w) * MAX(h) * 3 + 8 AS BIGINT) AS n_bytes,
           MAX(w) AS width, MAX(h) AS height,
           CAST(ROUND(SUM(CASE WHEN i % 3 = 0 THEN (doc_id + i) % 256 END)
                      * 1.0 / (MAX(w) * MAX(h)), 6) AS DOUBLE) AS mean_r,
           CAST(ROUND(SUM(CASE WHEN i % 3 = 1 THEN (doc_id + i) % 256 END)
                      * 1.0 / (MAX(w) * MAX(h)), 6) AS DOUBLE) AS mean_g,
           CAST(ROUND(SUM(CASE WHEN i % 3 = 2 THEN (doc_id + i) % 256 END)
                      * 1.0 / (MAX(w) * MAX(h)), 6) AS DOUBLE) AS mean_b
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q121_raw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END media decode (no stub in the path): documents become
    raw-RGB payloads (operators/multimodal.py encode_raw_rgb_row — header
    + arithmetic pixels), decode_media parses the header and extracts
    per-channel means with numpy inside Arrow-batched mapInPandas, and
    the oracle re-derives the same statistics from the pixel rule. This
    is the real decode wiring a production pipeline swaps PIL/libav
    into; only non-synthetic codecs remain stubbed.

    r15 (guide §4.1): synthesize→decode runs in one mapInPandas
    (``encode_row``, the q244 pattern) — payload bytes never cross the
    JVM↔Python boundary; the per-row loop is the one the standalone
    operators run, so the decode is identical by construction."""
    from ..operators.multimodal import decode_media, encode_raw_rgb_row

    docs = table(spark, sf_dir, "documents")
    feats = decode_media(docs, encode_row=encode_raw_rgb_row)
    return feats.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        F.round(F.col("features")[0], 6).alias("mean_r"),
        F.round(F.col("features")[1], 6).alias("mean_g"),
        F.round(F.col("features")[2], 6).alias("mean_b"),
    ).orderBy("doc_id")


@query(
    "q151_wav_decode",
    # Closed-form oracle for the REAL wave-module decode: amplitude,
    # half-period and frame count are arithmetic in doc_id
    # (operators/multimodal.py encode_wav_square), so rms == amplitude
    # exactly, crossings = (n-1)//h, duration_us = n*10^6/8000.
    oracle="""
    WITH p AS (
        SELECT doc_id,
               1000 + (doc_id % 9) * 500 AS amp,
               4 + doc_id % 5 AS half,
               800 + (doc_id % 7) * 80 AS n
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           8000 AS sample_rate,
           CAST(n AS BIGINT) AS n_frames,
           CAST(n * 125 AS BIGINT) AS duration_us,
           CAST(amp AS BIGINT) AS peak,
           CAST(amp AS DOUBLE) AS rms,
           CAST((n - 1) // half AS BIGINT) AS n_zero_cross
    FROM p ORDER BY doc_id
    """,
)
def q151_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio decode with a REAL standard format: PCM16 WAV
    blobs are parsed by the stdlib RIFF reader inside Arrow-batched
    mapInPandas and numpy derives loudness/VAD screening features (peak,
    RMS, zero-crossing count, duration) — the per-clip stats an audio
    curation pipeline filters on. The synthesis is parametric square
    waves, so every decoded feature has a closed form the SQL oracle
    states independently: the decode path itself is what's under test,
    byte level, no stub.

    r15 (guide §4.1): synthesize→decode runs FUSED in one mapInPandas
    (payloads never cross the boundary; identical batch functions)."""
    from ..operators.multimodal import decode_wav_features, encode_wav_square

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return decode_wav_features(docs, encode_row=encode_wav_square).orderBy(
        "doc_id"
    )


@query(
    "q152_ppm_decode",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               16 + doc_id % 8 AS w,
               8 + doc_id % 5 AS h,
               doc_id % 256 AS r, (doc_id * 7) % 256 AS g,
               (doc_id * 13) % 256 AS b
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CAST(w * h * 3 + length('P6' || chr(10)) + length(CAST(w AS VARCHAR))
                + 1 + length(CAST(h AS VARCHAR)) + 1 + 4 AS BIGINT) AS n_bytes,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(ROUND((r * (w * h - least(w, h)) + 255 * least(w, h))
                      * 1.0 / (w * h), 6) AS DOUBLE) AS mean_r,
           CAST(ROUND((g * (w * h - least(w, h)) + 255 * least(w, h))
                      * 1.0 / (w * h), 6) AS DOUBLE) AS mean_g,
           CAST(ROUND((b * (w * h - least(w, h)) + 255 * least(w, h))
                      * 1.0 / (w * h), 6) AS DOUBLE) AS mean_b
    FROM p ORDER BY doc_id
    """,
)
def q152_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image decode of a REAL standard format (netpbm P6
    PPM): header grammar + raw pixel parse + per-channel means, all
    numpy inside mapInPandas — actual byte-level image decoding with no
    external codec. The fixture images are solid fills with a white
    diagonal, so channel means have a closed form the oracle states
    independently. JPEG/PNG drop into the same mime dispatch when codec
    libs exist; everything else (schema, batching, feature math, column
    pruning of the payload) is exercised here for real.

    r15 (guide §4.1): synthesize→decode runs FUSED in one mapInPandas
    (payloads never cross the boundary; identical batch functions)."""
    from ..operators.multimodal import decode_ppm_features, encode_ppm

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    feats = decode_ppm_features(docs, encode_row=encode_ppm)
    return feats.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        F.round(F.col("features")[0], 6).alias("mean_r"),
        F.round(F.col("features")[1], 6).alias("mean_g"),
        F.round(F.col("features")[2], 6).alias("mean_b"),
    ).orderBy("doc_id")


@query(
    "q163_ahash_neardup",
    # Ground truth is the synthesis rule: hash groups == band-position
    # classes (doc_id % 4), because the aHash threshold provably keeps
    # exactly the band cells for any fill with gray < 255. The oracle
    # states the groups from the parameters; the Spark side must arrive
    # at the same partition via actual byte-level decode + hashing.
    # Distinct-payload counts prove members really differ byte-wise.
    oracle="""
    WITH d AS (
        SELECT doc_id, doc_id % 4 AS band,
               CAST(doc_id % 200 AS VARCHAR) || ':' ||
               CAST((doc_id * 7) % 256 AS VARCHAR) || ':' ||
               CAST((doc_id * 13) % 256 AS VARCHAR) AS fill
        FROM documents WHERE doc_id % 5 = 0
    )
    SELECT COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT fill) AS BIGINT) AS n_distinct_payloads,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM d GROUP BY band
    ORDER BY min_doc
    """,
)
def q163_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup via average-hash: byte-DIFFERENT images
    (every doc gets its own fill color) whose visual structure matches
    (same white-band position) must collapse to the same 64-bit aHash —
    the image-domain dedup family member next to MinHash (text, q40),
    SimHash (q41), and embedding cosine (q43). Pipeline: synthesize P6
    payloads → numpy block-mean aHash inside mapInPandas → groupBy hash.
    The output drops the hash value itself (the oracle cannot know it)
    and reports group structure: sizes, distinct-payload counts (proving
    members differ in bytes), and min doc id as the group key. At 100 TB
    the hash groupBy is a 16-byte-key shuffle after payloads are pruned
    executor-side — nothing image-sized ever moves.

    r15 (guide §4.1): synthesize→hash runs in one mapInPandas
    (``encode_row``, the q244 pattern) — payload bytes never cross the
    JVM↔Python boundary at all; the per-row loop is the one the
    standalone operators run, so the hashes are identical by
    construction."""
    from ..operators.multimodal import ahash_ppm, encode_banded_ppm

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    hashed = ahash_ppm(docs, encode_row=encode_banded_ppm)
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("payload_md5").alias("n_distinct_payloads"),
            F.min("doc_id").alias("min_doc"),
        )
        .drop("ahash")
        .orderBy("min_doc")
    )


@query(
    "q229_spectral_dominant",
    # Closed-form oracle for the numpy-rFFT decode: the tone sits
    # exactly on bin k = 3 + id%17 of the length-512 DFT (no leakage),
    # so argmax is k with certainty; hz = k·8000/512 = k·15.625 (an
    # exact binary fraction) and peak = A (cos(0)=1 survives rounding).
    oracle="""
    WITH p AS (
        SELECT doc_id,
               3 + doc_id % 17 AS k,
               8000 + (doc_id % 5) * 1000 AS amp
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           8000 AS sample_rate,
           CAST(512 AS BIGINT) AS n_frames,
           CAST(k AS BIGINT) AS dominant_bin,
           CAST(k * 15.625 AS DOUBLE) AS dominant_hz,
           CAST(amp AS BIGINT) AS peak
    FROM p ORDER BY doc_id
    """,
)
def q229_spectral_dominant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END frequency-domain audio analysis: pure-tone PCM16 WAVs
    (synthesized at exact DFT bins) are RIFF-parsed and rFFT'd with
    numpy inside Arrow-batched mapInPandas, reporting each clip's
    dominant bin/frequency and peak — the pitch-screening stage of an
    audio curation pipeline, and the proof that REAL numerical kernels
    (FFT) run vectorized in the Python lane without touching per-row
    UDFs. Every output has a closed form in doc_id (see operator
    docstring), so the byte-level decode + transform is SQL-checkable.

    r15 (guide §4.1): synthesize→rFFT runs FUSED in one mapInPandas
    (payloads never cross the boundary; identical batch functions)."""
    from ..operators.multimodal import decode_spectral, encode_wav_tone

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return decode_spectral(docs, encode_row=encode_wav_tone).orderBy("doc_id")


@query(
    "q244_media_quarantine",
    # Closed-form oracle from the deterministic corruption rule: clips
    # are 44 + 2*512 = 1068 bytes; doc_id % 4 → 0 intact ('ok', 1068),
    # 1 magic-flip ('header', 1068 bytes still present), 2 data chunk
    # halved ('payload', 44 + 512 = 556), 3 truncated to 6 bytes
    # ('header', 6). The engine must arrive at the same triage via a
    # REAL structural parse of the corrupted bytes.
    oracle="""
    WITH d AS (
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 'ok'
                               WHEN 2 THEN 'payload'
                               ELSE 'header' END AS status,
               CASE doc_id % 4 WHEN 2 THEN 556
                               WHEN 3 THEN 6
                               ELSE 1068 END AS n_bytes
        FROM documents WHERE doc_id % 5 = 0
    )
    SELECT status,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM d GROUP BY status ORDER BY status
    """,
)
def q244_media_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-blob triage — the validate-then-decode production shape
    for a 100 TB media corpus (one truncated upload must cost one
    quarantined row, not the job). Pipeline: synthesize tone WAVs and
    deterministically corrupt a subset (operators.multimodal
    .encode_corrupt_tone) → validate_media structurally classifies every
    payload (RIFF grammar parse + declared-vs-actual byte accounting,
    pure map) → aggregate per status. The decode operators themselves
    dead-letter whatever slips past triage (same rule as NULL
    payloads), so the quarantine counts reconcile the pipeline.

    Synthesis, corruption and triage are pure per-row Python, so they
    run in one mapInPandas: validate_media with
    ``encode_row=encode_corrupt_tone`` — one JVM↔Python crossing, and
    the payload bytes never reach the JVM."""
    from ..operators.multimodal import encode_corrupt_tone, validate_media

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    triage = validate_media(docs, encode_row=encode_corrupt_tone)
    return (
        triage.groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("status")
    )


@query(
    "q247_ppm_thumbnail",
    # Closed-form oracle from the generator's geometry + the pinned NN
    # convention: the source image is a solid (r,g,b) fill with a white
    # main diagonal, and thumbnail pixel (i,j) samples source
    # (i*h//8, j*w//8) — so a thumbnail pixel is white iff
    # j*w//8 == i*h//8. n_white enumerates the 64 cells per doc;
    # channel means follow in closed form. The re-encoded P6 is always
    # 11 header bytes + 192 pixel bytes.
    oracle="""
    WITH p AS (
        SELECT doc_id,
               16 + doc_id % 8 AS w,
               8 + doc_id % 5 AS h,
               doc_id % 256 AS r, (doc_id * 7) % 256 AS g,
               (doc_id * 13) % 256 AS b
        FROM documents WHERE doc_id % 10 = 0
    ),
    wh AS (
        SELECT p.doc_id,
               COUNT(*) FILTER (
                   WHERE (j.j * p.w) // 8 = (i.i * p.h) // 8
               ) AS n_white
        FROM p,
             generate_series(0, 7) i(i),
             generate_series(0, 7) j(j)
        GROUP BY p.doc_id
    )
    SELECT p.doc_id,
           CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
           CAST(11 + 192 AS BIGINT) AS n_bytes,
           CAST(wh.n_white AS BIGINT) AS n_white,
           CAST(ROUND((p.r * (64 - wh.n_white) + 255 * wh.n_white)
                      / 64.0, 6) AS DOUBLE) AS mean_r,
           CAST(ROUND((p.g * (64 - wh.n_white) + 255 * wh.n_white)
                      / 64.0, 6) AS DOUBLE) AS mean_g,
           CAST(ROUND((p.b * (64 - wh.n_white) + 255 * wh.n_white)
                      / 64.0, 6) AS DOUBLE) AS mean_b
    FROM p JOIN wh ON wh.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
)
def q247_ppm_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize (the thumbnail/preview step of a multimodal
    ingest): P6 decode → nearest-neighbor resample to 8×8 (numpy fancy
    indexing) → P6 re-encode → features from the re-encoded bytes
    (operators.multimodal.resize_ppm_thumbnail). The NN convention is
    pinned (src_y = i·h div 8, src_x = j·w div 8) so the generator's
    white-diagonal geometry gives every output a closed form the oracle
    states independently — the engine must arrive at it via a real
    decode/resample/re-encode of the bytes. At 100 TB: pure map-side
    Arrow work, fixed 203-byte outputs regardless of input resolution.

    r15 (guide §4.1): synthesize→resample runs FUSED in one mapInPandas
    (payloads never cross the boundary; identical batch functions)."""
    from ..operators.multimodal import encode_ppm, resize_ppm_thumbnail

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    thumbs = resize_ppm_thumbnail(docs, size=8, encode_row=encode_ppm)
    return thumbs.select(
        "doc_id",
        "out_w",
        "out_h",
        "n_bytes",
        "n_white",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("doc_id")
