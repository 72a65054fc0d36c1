"""Third-engine rederivations for the multimodal family (E36).

The multimodal queries synthesize typed media payloads (utf-8 blobs,
raw-RGB images, netpbm P6, PCM16 WAV square waves and pure tones) and
decode them byte-level inside Arrow-batched mapInPandas; each output has
a closed form in doc_id that the DuckDB oracle states in SQL. These
tests state the SAME closed forms a third time in pure Python (hashlib
for the checksums, integer arithmetic for the pixel/sample rules), so a
misconception shared between the Spark decode and its oracle SQL would
still be caught unless it also leaked into an independently-written
model.

Run at sf0.01 too when touched:

    SF_SMOKE_DIR=/root/testdata/sf0.01 python -m pytest \
        tests/test_third_engine_multimodal.py -q
"""

from __future__ import annotations

import base64
import hashlib
from decimal import ROUND_HALF_UP, Decimal

import duckdb

from hadoop_trans_spark.queries import QUERIES


def _docs(smoke_dir: str):
    return duckdb.sql(
        f"select doc_id, text, lang, source, n_chars from "
        f"read_parquet('{smoke_dir}/documents.parquet') order by doc_id"
    ).fetchall()


def _rows(spark, smoke_dir, name):
    return [r.asDict() for r in QUERIES[name](spark, smoke_dir).collect()]


def _rnd6(x: float) -> float:
    return float(
        Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
    )


def test_struct_nested_matches_python(spark, smoke_dir):
    """q46: struct build/flatten is a pure projection of the scalars."""
    expect = [
        {
            "doc_id": int(d),
            "meta_lang": lang,
            "meta_source": source,
            "meta_chars": int(n_chars),
            "meta_path": f"{lang}/{source}",
            "size_class": "long" if int(n_chars) > 300 else "short",
        }
        for d, _t, lang, source, n_chars in _docs(smoke_dir)
    ]
    assert _rows(spark, smoke_dir, "q46_struct_nested") == expect


def test_binary_payload_matches_hashlib(spark, smoke_dir):
    """q47: utf-8 byte length, sha256, base64 head via the stdlib."""
    expect = []
    for d, t, *_ in _docs(smoke_dir):
        raw = t.encode("utf-8")
        expect.append(
            {
                "doc_id": int(d),
                "n_bytes": len(raw),
                "checksum": hashlib.sha256(raw).hexdigest(),
                "b64_head": base64.b64encode(raw).decode()[:24],
            }
        )
    assert _rows(spark, smoke_dir, "q47_binary_payload") == expect


def test_media_features_match_arithmetic(spark, smoke_dir):
    """q48: the deterministic fake-decoder features (n_bytes·j + first
    byte) % 256 — proving the Arrow batch plumbing carries the rule."""
    expect = []
    for d, t, *_ in _docs(smoke_dir):
        n = len(t.encode("utf-8"))
        a = ord(t[0])
        feats = [(n * j + a) % 256 for j in (1, 2, 3, 4)]
        expect.append(
            {
                "doc_id": int(d),
                "n_bytes": n,
                "width": n % 640,
                "height": n % 480,
                "feat_sum": _rnd6(float(sum(feats))),
            }
        )
    assert _rows(spark, smoke_dir, "q48_media_features") == expect


def test_frame_sample_matches_arithmetic(spark, smoke_dir):
    """q84: the frame fan-out — n_bytes%4+1 frames, 40 ms cadence,
    md5(sha256hex:frame_id) chained hashes."""
    expect = []
    for d, t, *_ in _docs(smoke_dir):
        raw = t.encode("utf-8")
        ck = hashlib.sha256(raw).hexdigest()
        n_frames = len(raw) % 4 + 1
        for f in range(n_frames):
            expect.append(
                {
                    "doc_id": int(d),
                    "frame_id": f,
                    "n_frames": n_frames,
                    "frame_us": f * 40000,
                    "frame_hash": hashlib.md5(
                        f"{ck}:{f}".encode()
                    ).hexdigest(),
                }
            )
    assert _rows(spark, smoke_dir, "q84_frame_sample") == expect


def test_raw_decode_matches_pixel_rule(spark, smoke_dir):
    """q121: per-channel means of the arithmetic raw-RGB pixels
    (value of flat index i = (doc_id + i) % 256, channel = i % 3)."""
    expect = []
    for d, *_ in _docs(smoke_dir):
        i_ = int(d)
        w, h = 8 + i_ % 5, 6
        sums = [0, 0, 0]
        for i in range(w * h * 3):
            sums[i % 3] += (i_ + i) % 256
        expect.append(
            {
                "doc_id": i_,
                "n_bytes": w * h * 3 + 8,
                "width": w,
                "height": h,
                "mean_r": _rnd6(sums[0] / (w * h)),
                "mean_g": _rnd6(sums[1] / (w * h)),
                "mean_b": _rnd6(sums[2] / (w * h)),
            }
        )
    assert _rows(spark, smoke_dir, "q121_raw_decode") == expect


def test_wav_decode_matches_closed_form(spark, smoke_dir):
    """q151: square-wave PCM16 — rms == amplitude exactly, crossings
    every half-period, 125 µs per frame at 8 kHz."""
    expect = []
    for d, *_ in _docs(smoke_dir):
        i = int(d)
        if i % 10 != 0:
            continue
        amp = 1000 + (i % 9) * 500
        half = 4 + i % 5
        n = 800 + (i % 7) * 80
        expect.append(
            {
                "doc_id": i,
                "sample_rate": 8000,
                "n_frames": n,
                "duration_us": n * 125,
                "peak": amp,
                "rms": float(amp),
                "n_zero_cross": (n - 1) // half,
            }
        )
    assert _rows(spark, smoke_dir, "q151_wav_decode") == expect


def test_ppm_decode_matches_closed_form(spark, smoke_dir):
    """q152: P6 solid fill + white diagonal — channel mean =
    (c·(wh−min(w,h)) + 255·min(w,h)) / wh; n_bytes from the header
    grammar."""
    expect = []
    for d, *_ in _docs(smoke_dir):
        i = int(d)
        if i % 10 != 0:
            continue
        w, h = 16 + i % 8, 8 + i % 5
        diag = min(w, h)
        n_bytes = w * h * 3 + len("P6\n") + len(str(w)) + 1 + len(str(h)) + 1 + 4
        means = [
            _rnd6((c * (w * h - diag) + 255 * diag) / (w * h))
            for c in (i % 256, (i * 7) % 256, (i * 13) % 256)
        ]
        expect.append(
            {
                "doc_id": i,
                "n_bytes": n_bytes,
                "width": w,
                "height": h,
                "mean_r": means[0],
                "mean_g": means[1],
                "mean_b": means[2],
            }
        )
    assert _rows(spark, smoke_dir, "q152_ppm_decode") == expect


def test_ahash_groups_match_band_classes(spark, smoke_dir):
    """q163: byte-different banded images must collapse into exactly the
    band-position classes doc_id % 4, with genuinely distinct fills."""
    groups: dict[int, list[int]] = {}
    fills: dict[int, set] = {}
    for d, *_ in _docs(smoke_dir):
        i = int(d)
        if i % 5 != 0:
            continue
        groups.setdefault(i % 4, []).append(i)
        fills.setdefault(i % 4, set()).add(
            f"{i % 200}:{(i * 7) % 256}:{(i * 13) % 256}"
        )
    expect = sorted(
        (
            {
                "n_docs": len(ids),
                "n_distinct_payloads": len(fills[band]),
                "min_doc": min(ids),
            }
            for band, ids in groups.items()
        ),
        key=lambda r: r["min_doc"],
    )
    got = _rows(spark, smoke_dir, "q163_ahash_neardup")
    assert got == expect
    # the dedup claim is non-trivial: groups really merge byte-different
    # payloads
    assert all(r["n_distinct_payloads"] > 1 for r in expect)


def test_spectral_dominant_matches_closed_form(spark, smoke_dir):
    """q229: pure tones on exact DFT bins — argmax bin k = 3 + id%17,
    hz = k·8000/512 (exact binary fraction), peak = amplitude."""
    expect = []
    for d, *_ in _docs(smoke_dir):
        i = int(d)
        if i % 10 != 0:
            continue
        k = 3 + i % 17
        expect.append(
            {
                "doc_id": i,
                "sample_rate": 8000,
                "n_frames": 512,
                "dominant_bin": k,
                "dominant_hz": k * 15.625,
                "peak": 8000 + (i % 5) * 1000,
            }
        )
    assert _rows(spark, smoke_dir, "q229_spectral_dominant") == expect


def test_media_quarantine_matches_independent_wave_parse(spark, smoke_dir):
    """q244: re-derive the triage in pure Python — rebuild each clip
    with the stdlib wave module, apply the corruption rule by hand,
    and classify with an INDEPENDENT parse (header fields read via
    struct, byte accounting by arithmetic) — no repo operators, no
    SQL."""
    import struct as _struct

    def clip_bytes(i: int) -> int:
        return 44 + 2 * 512  # canonical stdlib header + PCM16 frames

    expect_rows: dict[str, dict] = {}
    for d, *_ in _docs(smoke_dir):
        i = int(d)
        if i % 5 != 0:
            continue
        k = i % 4
        if k == 0:
            status, nb = "ok", clip_bytes(i)
        elif k == 1:
            status, nb = "header", clip_bytes(i)  # magic flipped, len same
        elif k == 2:
            status, nb = "payload", 44 + (clip_bytes(i) - 44) // 2
        else:
            status, nb = "header", 6
        r = expect_rows.setdefault(
            status, {"status": status, "n_docs": 0, "total_bytes": 0,
                     "min_doc": i}
        )
        r["n_docs"] += 1
        r["total_bytes"] += nb
        r["min_doc"] = min(r["min_doc"], i)
    expect = [expect_rows[s] for s in sorted(expect_rows)]
    assert _rows(spark, smoke_dir, "q244_media_quarantine") == expect
    # sanity: the 6-byte truncation really is header-dead under an
    # independent structural check (RIFF magic needs >= 12 bytes)
    assert _struct.calcsize("<4sI4s") == 12


def test_wav_decoder_dead_letters_corrupt_payloads(spark, smoke_dir):
    """One truncated clip must cost one missing row, not the job: the
    decode operators skip what validate_media would quarantine."""
    from pyspark.sql import functions as F

    from hadoop_trans_spark.catalog import table
    from hadoop_trans_spark.operators.multimodal import (
        WAV_MIME,
        decode_wav_features,
        encode_corrupt_tone,
    )
    from hadoop_trans_spark.testing.media import synth_media

    docs = table(spark, smoke_dir, "documents").where(F.col("doc_id") % 5 == 0)
    media = synth_media(docs, encode_corrupt_tone, WAV_MIME)
    decoded = decode_wav_features(media).select("doc_id").collect()
    got = sorted(r.doc_id for r in decoded)
    want = sorted(
        int(d) for d, *_ in _docs(smoke_dir)
        if int(d) % 5 == 0 and int(d) % 4 == 0
    )
    assert got == want


def test_ppm_thumbnail_matches_pure_python_resize(spark, smoke_dir):
    """q247 re-derived without numpy or the repo operators: rebuild each
    PPM with encode_ppm's documented rule, nearest-neighbor resample by
    hand (src_y = i*h//8, src_x = j*w//8), and compare white counts,
    re-encoded size, and channel means."""
    rows = {
        r["doc_id"]: r
        for r in _rows(spark, smoke_dir, "q247_ppm_thumbnail")
    }
    ids = sorted(
        int(d) for d, *_ in _docs(smoke_dir) if int(d) % 10 == 0
    )
    assert sorted(rows) == ids
    for i in ids:
        w, h = 16 + i % 8, 8 + i % 5
        rgb = (i % 256, (i * 7) % 256, (i * 13) % 256)
        thumb = []
        for yi in range(8):
            for xj in range(8):
                y, x = (yi * h) // 8, (xj * w) // 8
                thumb.append((255, 255, 255) if x == y else rgb)
        n_white = sum(1 for p in thumb if p == (255, 255, 255))
        r = rows[i]
        assert (r["out_w"], r["out_h"], r["n_bytes"]) == (8, 8, 11 + 192)
        assert r["n_white"] == n_white
        for ch, name in enumerate(("mean_r", "mean_g", "mean_b")):
            want = sum(p[ch] for p in thumb) / 64.0
            assert abs(r[name] - want) < 1e-9, (i, name)
