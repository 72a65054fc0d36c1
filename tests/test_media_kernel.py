"""The media batch driver's row contract, for every payload decoder: a
malformed payload of the decoder's own mime is data and is
dead-lettered (its row is skipped, the job goes on); a foreign mime is a
configuration error and fails loudly; an audio clip decodes exactly
when the triage calls it 'ok'."""

from __future__ import annotations

import hashlib
import io
import struct
import wave

import pytest
from pyspark.sql.utils import PythonException

from hadoop_trans_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    PPM_MIME,
    RAW_RGB_MIME,
    WAV_MIME,
    ahash_ppm,
    decode_media,
    decode_ppm_features,
    decode_spectral,
    decode_wav_features,
    encode_banded_ppm,
    encode_corrupt_tone,
    encode_ppm,
    encode_raw_rgb_row,
    encode_wav_square,
    encode_wav_tone,
    resize_ppm_thumbnail,
    validate_media,
)
from hadoop_trans_spark.testing.media import synth_media


def _media(spark, rows):
    """MEDIA_SCHEMA frame from (doc_id, payload, mime) triples."""
    return spark.createDataFrame(
        [
            (i, p, {"mime": m, "n_bytes": len(p), "checksum": "c"})
            for i, p, m in rows
        ],
        MEDIA_SCHEMA,
    )


# decoder -> (its encoder, its mime, a foreign mime)
CASES = {
    decode_media: (encode_raw_rgb_row, RAW_RGB_MIME, WAV_MIME),
    decode_wav_features: (encode_wav_square, WAV_MIME, PPM_MIME),
    decode_ppm_features: (encode_ppm, PPM_MIME, WAV_MIME),
    ahash_ppm: (encode_banded_ppm, PPM_MIME, WAV_MIME),
    decode_spectral: (encode_wav_tone, WAV_MIME, PPM_MIME),
    resize_ppm_thumbnail: (encode_ppm, PPM_MIME, WAV_MIME),
}


@pytest.mark.parametrize("decode", list(CASES), ids=lambda f: f.__name__)
def test_decoder_dead_letters_truncation_and_rejects_foreign_mime(
    spark, decode
):
    encode, mime, foreign = CASES[decode]
    truncated = encode(7)[:-5]
    mixed = _media(spark, [(7, truncated, mime), (8, encode(8), mime)])
    assert [r.doc_id for r in decode(mixed).collect()] == [8]

    wrong = _media(spark, [(9, encode(9), foreign)])
    with pytest.raises(PythonException, match=r"no (audio|image) decoder for"):
        decode(wrong).collect()


def test_edge_clips_triage_as_the_audio_decoders_read_them(spark):
    """An empty data chunk is structurally sound: triage calls the clip
    'ok', so every audio decoder emits its row. A zero sample rate is a
    dead header: triage says so, and no decoder emits the row."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"")
    no_rate = bytearray(encode_wav_tone(2))
    struct.pack_into("<I", no_rate, 24, 0)  # fmt chunk's sample-rate field
    df = _media(
        spark, [(1, buf.getvalue(), WAV_MIME), (2, bytes(no_rate), WAV_MIME)]
    )
    triage = {r.doc_id: r.status for r in validate_media(df).collect()}
    assert triage == {1: "ok", 2: "header"}
    assert [tuple(r) for r in decode_spectral(df).collect()] == [
        (1, 8000, 0, 0, 0.0, 0)
    ]
    assert [tuple(r) for r in decode_wav_features(df).collect()] == [
        (1, 8000, 0, 0, 0, 0.0, 0)
    ]


def test_corrupted_clips_carry_their_own_meta(spark):
    """q244's corruption rule changes payload bytes, so each row's meta
    must describe the corrupted payload, not the intact clip it came
    from."""
    docs = spark.range(8).withColumnRenamed("id", "doc_id")
    rows = synth_media(docs, encode_corrupt_tone, WAV_MIME).collect()
    assert len(rows) == 8
    for r in rows:
        payload = bytes(r.payload)
        assert r.meta.n_bytes == len(payload), r.doc_id
        assert r.meta.checksum == hashlib.sha256(payload).hexdigest(), r.doc_id
