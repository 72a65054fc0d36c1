"""Multimodal column plumbing (E36): opaque binary payloads + typed
metadata, with decode/feature-extraction as Arrow-batched `mapInPandas`
operators.

One media kernel: every payload operator is a per-row function
``row_fn(doc_id, payload) -> tuple`` behind one batch driver,
`_media_map`. The driver owns the Arrow-batched mapInPandas, the
foreign-mime gate (NotImplementedError — a configuration error, never
data), dead-lettering of malformed and NULL payloads, and the
empty-batch guard. Fed a MEDIA_SCHEMA table it reads each row's
payload; given the synthesizer's ``encode_row(doc_id) -> bytes`` it
builds each payload in the same Python worker that consumes it, so the
bytes never cross the JVM↔Python boundary: synthesize → decode is one
crossing. Both run the same per-row loop, so the two forms are
row-identical by construction.

Decode coverage: REAL byte-level decoders exist for three formats that
need no external codec library — PCM16 WAV audio (stdlib `wave`, the
one reader `_read_pcm16`), netpbm P6 PPM images (header grammar +
numpy, the one parser `_read_ppm`), and the documented raw-RGB layout
(`_read_raw_rgb`). Only these readers reject a payload: they raise
`_Malformed`, which the driver dead-letters (one truncated blob must
not kill a 100 TB job), and whose status class is exactly
validate_media's triage. An error in the feature math still fails the
task. Compressed codecs (JPEG/PNG/libav audio) are NOT in this
container, so their mime branches raise NotImplementedError loudly;
`fake_features` remains the deterministic stand-in used by
schema/batching tests. The Spark-side contract — schema, Arrow batch
shape, partition-size control for large payloads, struct metadata model
— is identical for every format and exercised end-to-end by the real
decoders.

100 TB notes: binary payloads dominate row width — keep
`spark.sql.files.maxPartitionBytes` small enough that a batch of decoded
frames fits executor memory, and store payloads in their own column
chunk (parquet does this natively) so metadata-only queries never read
the bytes (column pruning).
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("checksum", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


class _Malformed(ValueError):
    """A payload a reader rejects. ``args[0]`` is its validate_media
    status class: 'header', 'payload' or 'unsupported'."""


def _media_map(
    df: DataFrame,
    row_fn,
    schema: T.StructType,
    mime: str,
    encode_row=None,
) -> DataFrame:
    """The one batch driver behind every payload operator: Arrow-batched
    mapInPandas applying ``row_fn(doc_id, payload)`` to each row; the
    returned tuple is one output row in ``schema`` field order.

    Without ``encode_row`` the input is a MEDIA_SCHEMA table, and a row
    of any mime but ``mime`` raises NotImplementedError. With it the
    input only needs a doc_id column: each payload is
    ``encode_row(doc_id)``, born and consumed in one Python worker — no
    intermediate MEDIA_SCHEMA frame, no checksum — and the input is
    parallelized first because the Python-side encode is the CPU stage.
    A row whose reader raises `_Malformed` (NULL payloads included) is
    dead-lettered; any other error fails the task."""
    kind = mime.split("/")[0]
    names = schema.fieldNames()
    if encode_row is not None:
        from .stage import parallelize_stage

        df = parallelize_stage(df).select("doc_id")

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if encode_row is None:
                for meta in pdf["meta"]:
                    if meta["mime"] != mime:
                        raise NotImplementedError(
                            f"no {kind} decoder for {meta['mime']!r}"
                        )
                payloads = pdf["payload"]
            else:
                payloads = (encode_row(int(d)) for d in pdf["doc_id"])
            out = []
            for doc_id, payload in zip(pdf["doc_id"], payloads):
                try:
                    out.append(row_fn(int(doc_id), payload))
                except _Malformed:
                    continue
            if out:
                yield pd.DataFrame(out, columns=names)  # an empty frame is untyped -> Arrow error

    return df.mapInPandas(_map, schema)


def attach_binary(df: DataFrame) -> DataFrame:
    """Model a media table from the documents fixture: payload = utf-8
    bytes of the text (stand-in for image/audio bytes), typed meta struct."""
    payload = F.encode(F.col("text"), "UTF-8")
    return df.select(
        F.col("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.sha2(F.col("text").cast("string"), 256).alias("checksum"),
        ).alias("meta"),
    )


RAW_RGB_MIME = "image/x-raw-rgb"
_RAW_MAGIC = b"RAW1"  # 8-byte header: magic + width:u16be + height:u16be


def encode_raw_rgb(width: int, height: int, pixel_of_index) -> bytes:
    """Build a raw-RGB payload: 8-byte header + interleaved RGB bytes,
    pixel byte i = pixel_of_index(i). The synthetic codec used by the
    executable decode path (and by tests as the independent model)."""
    head = _RAW_MAGIC + width.to_bytes(2, "big") + height.to_bytes(2, "big")
    return head + bytes(pixel_of_index(i) & 0xFF for i in range(width * height * 3))


def _read_raw_rgb(payload: bytes | None) -> np.ndarray:
    """The raw-RGB header check: uint8 pixels shaped (height, width, 3)
    of a payload in encode_raw_rgb's layout; `_Malformed` otherwise."""
    if payload is None or len(payload) < 8 or payload[:4] != _RAW_MAGIC:
        raise _Malformed("header")
    w = int.from_bytes(payload[4:6], "big")
    h = int.from_bytes(payload[6:8], "big")
    if w == 0 or h == 0:
        raise _Malformed("header")
    px = np.frombuffer(payload, dtype=np.uint8, offset=8)
    if px.size != w * h * 3:
        raise _Malformed("payload")
    return px.reshape(h, w, 3)


def _channel_means_row(read):
    """FEATURE_SCHEMA row function over RGB pixels parsed by ``read``:
    per-channel means, exact (integer sums in float64, one division)."""

    def _row(doc_id: int, payload: bytes) -> tuple:
        img = read(payload)
        h, w, _ = img.shape
        sums = img.astype(np.float64).reshape(-1, 3).sum(axis=0)
        return doc_id, len(payload), w, h, [float(s) / (w * h) for s in sums]

    return _row


def decode_media(df: DataFrame, encode_row=None) -> DataFrame:
    """Decode entry point, Arrow-batched mapInPandas (the production
    shape). EXECUTABLE for the documented raw-RGB format (numpy only —
    header parse, frombuffer, per-channel means as features); real
    codecs (JPEG/PNG/audio) raise NotImplementedError because their
    libraries are not in this container — swap the mime dispatch body
    for PIL/libav calls in production. Means are exact: integer sums in
    float64, one division. ``encode_row`` synthesizes each payload in
    the decoding worker (see `_media_map`)."""
    return _media_map(
        df, _channel_means_row(_read_raw_rgb), FEATURE_SCHEMA,
        RAW_RGB_MIME, encode_row,
    )


def fake_features(df: DataFrame) -> DataFrame:
    """Deterministic stand-in feature extractor over binary payloads.

    Arrow-batched mapInPandas: each batch arrives as a pandas DataFrame
    with the payload as bytes; four features, integer-derived (exact in
    float64) so results are engine-reproducible for the oracle.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads are skipped, not decoded: a missing media
            # blob yields no feature row (real pipelines dead-letter
            # these) — map(len) on None crashed the worker otherwise
            # (NULL-probe find, r10).
            pdf = pdf[pdf["payload"].notna()]
            n = pdf["payload"].map(len)
            first = pdf["payload"].map(lambda b: b[0] if len(b) else 0)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "width": (n % 640).astype("int32"),
                    "height": (n % 480).astype("int32"),
                    "features": [
                        [float((int(nb) * (j + 1) + int(fb)) % 256) for j in range(4)]
                        for nb, fb in zip(n, first)
                    ],
                }
            )
            yield out

    return df.mapInPandas(_extract, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_id", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_us", T.LongType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)

FRAME_US = 40_000  # frame_sample's cadence: 25 fps


def frame_sample(df: DataFrame) -> DataFrame:
    """Fan each media row out into per-frame rows — the video
    frame-sampling shape: one input row becomes N output rows inside the
    same Arrow batch (mapInPandas is a flat-map, not a 1:1 map).

    The decoder is stubbed deterministically (n_frames derived from the
    payload size; frame hash from the content checksum + index) — the
    real part is the row-multiplying batch plumbing, the schema contract,
    and the per-frame timestamp assignment a real sampler needs. Batch
    memory scales with n_frames × row width: at 100 TB bound it with
    spark.sql.execution.arrow.maxRecordsPerBatch and keep payloads out of
    the output schema (only hashes/timestamps leave the executor)."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k.name: [] for k in FRAME_SCHEMA.fields}
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                if payload is None:
                    # Missing media: no frames (fake_features rule;
                    # NULL-probe find, r10).
                    continue
                n_frames = int(len(payload)) % 4 + 1
                checksum = meta["checksum"]
                for i in range(n_frames):
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_id"].append(i)
                    rows["n_frames"].append(n_frames)
                    rows["frame_us"].append(i * FRAME_US)
                    rows["frame_hash"].append(
                        hashlib.md5(f"{checksum}:{i}".encode()).hexdigest()
                    )
            if rows["doc_id"]:
                yield pd.DataFrame(rows)  # empty dict-frame is untyped -> Arrow error

    return df.mapInPandas(_sample, FRAME_SCHEMA)


def encode_raw_rgb_row(doc_id: int) -> bytes:
    """Deterministic raw-RGB fixture payload: width = 8 + id%5,
    height = 6, pixel byte i = (id + i) mod 256. The arithmetic pixel
    rule is what lets a SQL oracle reproduce the decoded statistics
    exactly."""
    return encode_raw_rgb(8 + doc_id % 5, 6, lambda i: doc_id + i)


# --- REAL codecs (stdlib/numpy only): WAV audio and PPM images ---------------

WAV_MIME = "audio/x-wav"
PPM_MIME = "image/x-portable-pixmap"
SAMPLE_RATE = 8000  # every synthesized clip's rate
TONE_FRAMES = 512  # encode_wav_tone's clip length (one DFT frame)

WAV_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("n_zero_cross", T.LongType()),
    ]
)


def _pcm16_wav(samples: list[int]) -> bytes:
    """PCM16 mono WAV at SAMPLE_RATE holding ``samples``."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(SAMPLE_RATE)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def _read_pcm16(payload: bytes | None) -> tuple[int, np.ndarray]:
    """The one WAV reader: (sample_rate, int16 samples) of a PCM16 mono
    RIFF WAVE payload. Anything else raises `_Malformed` with its
    validate_media status — 'header' when the RIFF/fmt grammar does not
    parse (NULL included) or declares a zero sample rate, 'payload' when
    the data chunk holds fewer bytes than the declared frames,
    'unsupported' when sound but not PCM16 mono — so it accepts exactly
    what validate_media calls 'ok'."""
    try:
        with wave.open(io.BytesIO(payload)) as w:
            sr, n = w.getframerate(), w.getnframes()
            width, channels = w.getsampwidth(), w.getnchannels()
            frames = w.readframes(n)
    except Exception as exc:  # noqa: BLE001
        # The stdlib parser's failures on hostile bytes are not a closed
        # set (wave.Error, EOFError, RuntimeError, struct.error, ...):
        # whatever stops the parse is a dead header.
        raise _Malformed("header") from exc
    if sr == 0:  # stdlib wave accepts it; durations divide by it
        raise _Malformed("header")
    if len(frames) < n * width * channels:
        raise _Malformed("payload")
    if width != 2 or channels != 1:
        raise _Malformed("unsupported")
    return sr, np.frombuffer(frames, dtype="<i2")


def encode_wav_square(doc_id: int) -> bytes:
    """Deterministic PCM16 mono WAV: a square wave with amplitude
    A = 1000 + (id%9)*500, half-period h = 4 + id%5 samples, and
    n = 800 + (id%7)*80 frames. Every feature the decoder must recover
    has a CLOSED FORM in doc_id (|sample| ≡ A ⇒ rms = A exactly; sign
    flips every h samples ⇒ zero crossings = (n-1)//h; duration_us =
    n·10⁶/sr) — which is what lets a SQL oracle check a REAL byte-level
    audio decode."""
    amp = 1000 + (doc_id % 9) * 500
    half = 4 + doc_id % 5
    n = 800 + (doc_id % 7) * 80
    return _pcm16_wav([amp if (i // half) % 2 == 0 else -amp for i in range(n)])


def decode_wav_features(df: DataFrame, encode_row=None) -> DataFrame:
    """REAL audio decode (no stub): the stdlib `wave` parser reads each
    payload's RIFF header and PCM frames inside Arrow-batched
    mapInPandas; numpy computes peak / RMS / zero-crossing count — the
    standard VAD/loudness screening features an audio curation pipeline
    derives per clip. Exactness: samples are ±A ints, so A² sums and the
    final sqrt are exact in float64 (sqrt of a perfect square is
    correctly rounded to the integer) — the oracle states the features
    in closed form. At 100 TB clips decode where they land (pure map,
    payload column pruned for metadata-only queries); batch memory =
    frames × 2 bytes × rows-per-batch, bounded via
    arrow.maxRecordsPerBatch."""

    def _row(doc_id: int, payload: bytes) -> tuple:
        sr, x = _read_pcm16(payload)
        x = x.astype(np.int64)
        n = len(x)
        return (
            doc_id,
            sr,
            n,
            n * 1_000_000 // sr,
            int(np.abs(x).max()) if n else 0,
            float(np.sqrt(np.mean(np.square(x.astype(np.float64))))) if n else 0.0,
            int(np.sum(x[:-1] * x[1:] < 0)) if n > 1 else 0,
        )

    return _media_map(df, _row, WAV_FEATURE_SCHEMA, WAV_MIME, encode_row)


def _read_ppm(payload: bytes | None) -> np.ndarray:
    """The one P6 parser: uint8 pixels shaped (height, width, 3) of an
    8-bit netpbm P6 payload with one header field per line (the layout
    the encoders write); `_Malformed` otherwise."""
    if payload is None:
        raise _Malformed("header")
    try:
        magic, dims, maxval, raw = payload.split(b"\n", 3)
        w, h = (int(v) for v in dims.split())
        maxval = int(maxval)
    except ValueError as exc:
        raise _Malformed("header") from exc
    if magic != b"P6" or w <= 0 or h <= 0:
        raise _Malformed("header")
    if maxval != 255:
        raise _Malformed("unsupported")
    px = np.frombuffer(raw, dtype=np.uint8)
    if px.size != w * h * 3:
        raise _Malformed("payload")
    return px.reshape(h, w, 3)


def encode_ppm(doc_id: int) -> bytes:
    """Deterministic P6 PPM (the netpbm standard): w = 16 + id%8,
    h = 8 + id%5, solid (id%256, id·7%256, id·13%256) fill with a white
    main diagonal — per-channel means have the closed form
    (c·(w·h−d) + 255·d) / (w·h), d = min(w,h)."""
    w, h = 16 + doc_id % 8, 8 + doc_id % 5
    r, g, b = doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256
    px = bytearray()
    for y in range(h):
        for x in range(w):
            if x == y:
                px += b"\xff\xff\xff"
            else:
                px += bytes((r, g, b))
    return f"P6\n{w} {h}\n255\n".encode("ascii") + bytes(px)


def decode_ppm_features(df: DataFrame, encode_row=None) -> DataFrame:
    """REAL image decode of a REAL standard format (netpbm P6): header
    grammar parse + numpy frombuffer/reshape + per-channel means —
    byte-level image decoding with no external codec library. JPEG/PNG
    swap into the same mime dispatch when PIL/libvips are present; the
    schema contract, batch shape, and feature math stay identical.
    Integer pixel sums are exact in float64, so the closed-form SQL
    oracle matches bit-for-bit."""
    return _media_map(
        df, _channel_means_row(_read_ppm), FEATURE_SCHEMA, PPM_MIME, encode_row
    )


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ahash", T.StringType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)


def encode_banded_ppm(doc_id: int) -> bytes:
    """16×8 P6 PPM with a white 2-row band at row 2·(id%4) over a
    per-doc solid fill (id%200, id·7%256, id·13%256).

    The band POSITION is the visual structure; the fill is per-doc
    noise. Because fill gray < 255 always holds, an average-hash's
    threshold keeps exactly the band cells — so images with the same
    band position are visual near-duplicates with DIFFERENT bytes,
    the ground truth the perceptual-hash query verifies against."""
    w, h = 16, 8
    r, g, b = doc_id % 200, (doc_id * 7) % 256, (doc_id * 13) % 256
    band = 2 * (doc_id % 4)
    px = bytearray()
    for y in range(h):
        px += (
            b"\xff\xff\xff" * w
            if y in (band, band + 1)
            else bytes((r, g, b)) * w
        )
    return f"P6\n{w} {h}\n255\n".encode("ascii") + bytes(px)


def ahash_ppm(df: DataFrame, encode_row=None) -> DataFrame:
    """Perceptual average-hash (aHash) over decoded P6 PPM payloads:
    grayscale → 8×8 block-mean downsample → threshold each cell against
    the mean of cell means → 64-bit hash (16 hex chars). Byte-different
    images with the same coarse structure (brightness-shifted fills,
    recompressions) collapse to one hash; hash equality buckets are the
    candidate groups of an image dedup pipeline — the pixel-domain
    analogue of SimHash's one-projection near-dup (operators/simhash.py).
    Pure numpy inside Arrow-batched mapInPandas; at 100 TB this is a
    payload-pruning map followed by a hash groupBy, the cheapest dedup
    shape there is."""

    def _row(doc_id: int, payload: bytes) -> tuple:
        img = _read_ppm(payload)
        h, w, _ = img.shape
        gray = img.astype(np.float64).mean(axis=2)
        # 8×8 block means with integer cell boundaries floor(i·dim/8) —
        # exact for any dim ≥ 8, no resampling library needed.
        ys = [h * i // 8 for i in range(9)]
        xs = [w * i // 8 for i in range(9)]
        cells = np.array(
            [
                [
                    gray[ys[r]: ys[r + 1], xs[c]: xs[c + 1]].mean()
                    for c in range(8)
                ]
                for r in range(8)
            ]
        )
        val = 0
        for bit in (cells > cells.mean()).flatten():
            val = (val << 1) | int(bit)
        return doc_id, f"{val:016x}", hashlib.md5(payload).hexdigest()

    return _media_map(df, _row, AHASH_SCHEMA, PPM_MIME, encode_row)


SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("dominant_bin", T.LongType()),
        T.StructField("dominant_hz", T.DoubleType()),
        T.StructField("peak", T.LongType()),
    ]
)


def encode_wav_tone(doc_id: int) -> bytes:
    """Deterministic PCM16 mono WAV: a pure cosine at EXACT FFT bin
    k = 3 + id%17 with amplitude A = 8000 + (id%5)*1000 over n=512
    frames. Because the frequency sits exactly on a bin of the length-n
    DFT, there is no spectral leakage: the rFFT magnitude peaks at bin
    k regardless of int16 quantization (noise power spreads microscopic
    energy across all bins), and cos(0)=1 makes peak == A exactly —
    the closed forms the SQL oracle states."""
    k = 3 + doc_id % 17
    amp = 8000 + (doc_id % 5) * 1000
    n = TONE_FRAMES
    return _pcm16_wav(
        [int(round(amp * math.cos(2 * math.pi * k * i / n))) for i in range(n)]
    )


def decode_spectral(df: DataFrame, encode_row=None) -> DataFrame:
    """REAL frequency-domain decode: RIFF-parse each payload and run a
    numpy rFFT inside Arrow-batched mapInPandas, reporting the dominant
    non-DC bin and its frequency — the pitch/bandwidth screening step
    of an audio curation pipeline (and the repo's demonstration that
    heavy numerical kernels belong in vectorized Arrow batches, not
    per-row Python). dominant_hz = bin·sr/n is exact in float64 for
    sr=8000, n=512 (15.625 is a binary fraction). At 100 TB clips
    transform where they land — pure map, no shuffle."""

    def _row(doc_id: int, payload: bytes) -> tuple:
        sr, x = _read_pcm16(payload)
        x = x.astype(np.float64)
        n = len(x)
        # A clip with under two frames has no non-DC bin (and rFFT of
        # zero frames raises): bin 0 at 0 Hz.
        dom = int(np.argmax(np.abs(np.fft.rfft(x))[1:]) + 1) if n > 1 else 0
        return (
            doc_id, sr, n, dom, dom * sr / n if n else 0.0,
            int(np.abs(x).max()) if n else 0,
        )

    return _media_map(df, _row, SPECTRAL_SCHEMA, WAV_MIME, encode_row)


# --- corruption quarantine (round 12) ----------------------------------------
#
# A 100 TB media corpus ALWAYS contains truncated and garbage blobs; a
# decoder that raises on the first one kills the whole job. The
# production shape is validate-then-decode: `validate_media` classifies
# every payload structurally (cheap header parse + byte accounting,
# pure map, no shuffle), the decode operators DEAD-LETTER what still
# slips through (skip, never crash — same rule as NULL payloads), and
# the pipeline reconciles counts between the two.

QUARANTINE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        # ok | header | payload | unsupported
        T.StructField("status", T.StringType()),
    ]
)


def validate_media(df: DataFrame, encode_row=None) -> DataFrame:
    """Structural triage of WAV payloads, Arrow-batched:

    - ``header``: the RIFF/fmt chunk grammar does not parse (bad magic,
      truncated header) — nothing downstream can use the blob;
    - ``payload``: the header parses but the data chunk holds fewer
      bytes than the declared frame count (a truncated upload) —
      metadata is salvageable, samples are not;
    - ``unsupported``: structurally sound but not PCM16 mono — the
      decode operators reject exactly that format (ADVICE r12: triage
      previously called these 'ok' while decode dead-lettered them, so
      the two stages' counts could not reconcile);
    - ``ok``: structurally sound AND decodable (PCM16 mono).

    Classification is deterministic (grammar + byte arithmetic), so a
    corpus with rule-injected corruption has a closed-form oracle. It
    IS the audio decoders' reader (`_read_pcm16`), so #ok equals their
    row count by construction. ``encode_row`` triages each payload in
    the worker that synthesizes it (see `_media_map`)."""

    def _row(doc_id: int, payload: bytes | None) -> tuple:
        try:
            _read_pcm16(payload)
            status = "ok"
        except _Malformed as exc:
            status = exc.args[0]
        return doc_id, len(payload or b""), status

    return _media_map(df, _row, QUARANTINE_SCHEMA, WAV_MIME, encode_row)


def encode_corrupt_tone(doc_id: int) -> bytes:
    """q244's per-row rule: encode_wav_tone's clip, corrupted by
    doc_id % 4 — 0 intact, 1 magic bytes replaced (header-dead), 2 data
    chunk cut in half (payload-dead), 3 truncated to 6 bytes
    (header-dead). The classes map 1:1 onto validate_media statuses,
    giving q244 its closed-form oracle. The canonical stdlib WAV header
    is 44 bytes, so [:44 + rest//2] keeps the header intact."""
    raw = encode_wav_tone(doc_id)
    k = doc_id % 4
    if k == 1:
        return b"JUNK" + raw[4:]
    if k == 2:
        return raw[: 44 + (len(raw) - 44) // 2]
    if k == 3:
        return raw[:6]
    return raw


THUMBNAIL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),  # re-encoded P6 size
        T.StructField("n_white", T.LongType()),  # diagonal pixels kept
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def resize_ppm_thumbnail(
    df: DataFrame, size: int = 8, encode_row=None
) -> DataFrame:
    """REAL image resize: P6 decode → nearest-neighbor resample to
    size×size (numpy fancy indexing, no codec library) → P6 re-encode →
    feature row from the RE-ENCODED bytes. The thumbnail/preview step of
    a multimodal ingest pipeline, with the NN convention pinned exactly
    (src_y = i·h div size, src_x = j·w div size) so the closed-form
    oracle can reproduce per-channel means from the generator's
    geometry. Malformed payloads dead-letter (the q244 quarantine rule);
    at 100 TB the resample is pure map-side Arrow-batch work — no
    shuffle, output rows are a fixed 3·size² bytes each regardless of
    input resolution (the property that makes thumbnail tables
    broadcast-friendly downstream)."""

    def _row(doc_id: int, payload: bytes) -> tuple:
        img = _read_ppm(payload)
        h, w, _ = img.shape
        ys = (np.arange(size) * h) // size
        xs = (np.arange(size) * w) // size
        thumb = img[ys][:, xs]  # nearest-neighbor resample
        out = f"P6\n{size} {size}\n255\n".encode("ascii") + thumb.tobytes()
        white = int((thumb == 255).all(axis=2).sum())
        means = thumb.astype(np.float64).reshape(-1, 3).mean(axis=0)
        return (
            doc_id, size, size, len(out), white,
            float(means[0]), float(means[1]), float(means[2]),
        )

    return _media_map(df, _row, THUMBNAIL_SCHEMA, PPM_MIME, encode_row)
