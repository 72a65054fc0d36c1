"""Fused synth→decode media pipelines (r15, guide §4.1) must be
row-identical to the chained two-crossing form they replace.

Both forms run the SAME per-row loop (operators/multimodal._media_map,
with and without ``encode_row``); the chained form reads a MEDIA_SCHEMA
table from testing.media.synth_media. Any divergence here means the
driver's synthesize path broke, not the rules.
"""

from __future__ import annotations

from hadoop_trans_spark.operators.multimodal import (
    PPM_MIME,
    RAW_RGB_MIME,
    WAV_MIME,
    ahash_ppm,
    decode_media,
    decode_ppm_features,
    decode_spectral,
    decode_wav_features,
    encode_banded_ppm,
    encode_ppm,
    encode_raw_rgb_row,
    encode_wav_square,
    encode_wav_tone,
    resize_ppm_thumbnail,
)
from hadoop_trans_spark.testing.media import synth_media

DOC_IDS = [0, 3, 4, 5, 7, 8, 10, 17, 23, 42]


def _ids_df(spark):
    return spark.createDataFrame([(i,) for i in DOC_IDS], "doc_id long")


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: (t[0] is None, t)
    )


def test_fused_equals_chained_all_pipelines(spark):
    df = _ids_df(spark)
    cases = [
        (decode_media(synth_media(df, encode_raw_rgb_row, RAW_RGB_MIME)),
         decode_media(df, encode_row=encode_raw_rgb_row)),
        (decode_wav_features(synth_media(df, encode_wav_square, WAV_MIME)),
         decode_wav_features(df, encode_row=encode_wav_square)),
        (decode_ppm_features(synth_media(df, encode_ppm, PPM_MIME)),
         decode_ppm_features(df, encode_row=encode_ppm)),
        (ahash_ppm(synth_media(df, encode_banded_ppm, PPM_MIME)),
         ahash_ppm(df, encode_row=encode_banded_ppm)),
        (decode_spectral(synth_media(df, encode_wav_tone, WAV_MIME)),
         decode_spectral(df, encode_row=encode_wav_tone)),
        (resize_ppm_thumbnail(synth_media(df, encode_ppm, PPM_MIME), size=8),
         resize_ppm_thumbnail(df, size=8, encode_row=encode_ppm)),
    ]
    for chained, fused in cases:
        assert chained.schema == fused.schema
        assert _sorted_rows(chained) == _sorted_rows(fused)


def test_fused_plan_has_single_python_node(spark):
    """The point of the fusion: ONE Python eval node, and the payload
    column never appears on the JVM side of the plan."""
    df = _ids_df(spark)
    fused = ahash_ppm(df, encode_row=encode_banded_ppm)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    chained = ahash_ppm(synth_media(df, encode_banded_ppm, PPM_MIME))
    chained_plan = chained._jdf.queryExecution().executedPlan().toString()
    assert chained_plan.count("MapInPandas") == 2
