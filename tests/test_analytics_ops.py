"""Property tests for the round-2 analytics operators: chunking coverage,
k-means inertia monotonicity, weighted-sample partitioning invariance,
and single-scan column profiling."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_trans_spark.catalog import table
from hadoop_trans_spark.operators.curation import chunk_documents, weighted_sample
from hadoop_trans_spark.operators.kmeans import kmeans_assignments
from hadoop_trans_spark.operators.profile import profile_columns


def test_chunks_cover_every_document(spark, smoke_dir):
    docs = table(spark, smoke_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    chunks = chunk_documents(docs, size=200, stride=150)
    cov = (
        chunks.groupBy("doc_id")
        .agg(
            F.max(F.col("off") + F.col("chunk_len")).alias("covered"),
            F.max("chunk_len").alias("max_len"),
            F.count("*").alias("n_chunks"),
        )
        .join(docs.select("doc_id", "n"), "doc_id")
    )
    bad = cov.where(
        (F.col("covered") != F.col("n"))  # chunks must reach the exact end
        | (F.col("max_len") > 200)
        | (F.col("n_chunks") != F.ceil(F.col("n") / 150))
    ).count()
    assert bad == 0
    assert cov.count() == docs.count()  # every doc chunked


def test_chunk_documents_rejects_bad_stride():
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(None, size=100, stride=0)
    with pytest.raises(ValueError):
        chunk_documents(None, size=100, stride=101)


def test_kmeans_inertia_non_increasing(spark, smoke_dir):
    e = table(spark, smoke_dir, "embeddings")

    def inertia(iters: int) -> float:
        a = kmeans_assignments(e, k=8, iters=iters)
        return a.agg(F.sum("d2")).first()[0]

    i1, i2, i3 = inertia(1), inertia(2), inertia(3)
    # Lloyd's algorithm never increases the objective (up to the 1e-6
    # rounding the determinism contract applies to distances).
    assert i2 <= i1 + 1e-3
    assert i3 <= i2 + 1e-3
    # and the first refit must actually move: init-by-first-ids is far
    # from the local optimum on any non-degenerate corpus
    assert i2 < i1


def test_kmeans_assignment_is_total_partition(spark, smoke_dir):
    e = table(spark, smoke_dir, "embeddings")
    a = kmeans_assignments(e, k=8, iters=2)
    assert a.count() == e.count()  # every vector assigned exactly once
    assert a.select("id").distinct().count() == e.count()
    clusters = {r["cluster"] for r in a.select("cluster").distinct().collect()}
    assert clusters <= set(range(8))


def test_weighted_sample_invariant_under_repartition(spark, smoke_dir):
    docs = table(spark, smoke_dir, "documents")
    s1 = weighted_sample(docs, k=40, weight_col="n_chars")
    s2 = weighted_sample(docs.repartition(13), k=40, weight_col="n_chars")
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in s2.select("doc_id").collect())
    assert ids1 == ids2
    assert len(ids1) == 40


def test_weighted_sample_prefers_heavy_rows(spark):
    # 200 rows, two weight classes 1000:1 — the top-20 sample must be
    # dominated by heavy rows (A-ES inclusion ∝ weight).
    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, 1000.0).otherwise(1.0).alias("w"),
    )
    s = weighted_sample(df, k=20, weight_col="w", id_col="doc_id")
    heavy = s.where(F.col("doc_id") < 100).count()
    assert heavy >= 18


def test_profile_is_correct_with_no_expand(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")], "k int, s string"
    )
    prof = {r["col_name"]: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert prof["k"]["n_rows"] == 4
    assert prof["k"]["n_nonnull"] == 3
    assert prof["k"]["n_distinct"] == 2
    assert prof["k"]["min_str"] == "1" and prof["k"]["max_str"] == "2"
    assert prof["s"]["n_nonnull"] == 3
    assert prof["s"]["n_distinct"] == 2
    # scale guarantee: per-column legs, NOT a multi-distinct Expand that
    # multiplies every row (cols+1)x through the first shuffle
    plan = profile_columns(df, ["k", "s"])._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan

def test_kmeans_empty_cluster_preserves_ordinals(spark):
    """If a cluster empties, surviving clusters must KEEP their ordinals
    (labels come from the centroid struct, not the literal-array index).

    Construction: ids 0,1,2 seed the three init centroids; vectors 0 and
    1 are identical, so every point tied between c0 and c1 resolves to
    the lower ordinal and cluster 1 receives no members. After the
    refit drops cluster 1, points in vector 2's region must still be
    labeled 2 — positional labeling would renumber them to 1.
    """
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.0, 0.0]),  # duplicate of centroid 0 → cluster 1 empties
        (2, [10.0, 10.0]),
        (3, [0.1, 0.0]),
        (4, [10.0, 9.9]),
        (5, [9.9, 10.1]),
    ]
    e = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        r["id"]: r["cluster"]
        for r in kmeans_assignments(e, k=3, iters=3).collect()
    }
    assert got[2] == 2 and got[4] == 2 and got[5] == 2, got
    assert got[0] == 0 and got[1] == 0 and got[3] == 0, got
    assert 1 not in set(got.values())

def test_weighted_sample_extreme_ids(spark):
    """md5-prefix uniforms must stay finite and in (0,1) for ids that
    overflowed the old multiplicative hash: huge (>2^32) and negative."""
    import math

    rows = [(-5, 10.0), (0, 10.0), (7, 10.0), (2**62, 10.0), (-(2**62), 10.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = weighted_sample(df, k=5, weight_col="w", id_col="doc_id").collect()
    assert len(got) == 5
    for r in got:
        assert r["sample_key"] is not None
        assert not math.isnan(r["sample_key"])
        assert 0.0 < r["sample_key"] < 1.0, r

def test_profile_handles_awkward_column_names(spark):
    """Identifiers needing quoting (spaces, dots, quotes, backticks) and
    empty input both have defined behavior."""
    import pytest

    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(**{"plain": 1}), Row(**{"plain": 2})]
    ).withColumnRenamed("plain", "we ird.na`me's")
    got = {
        r["col_name"]: r
        for r in profile_columns(df, ["we ird.na`me's"]).collect()
    }
    r = got["we ird.na`me's"]
    assert r["n_rows"] == 2 and r["n_nonnull"] == 2 and r["n_distinct"] == 2
    assert r["min_str"] == "1" and r["max_str"] == "2"
    with pytest.raises(ValueError):
        profile_columns(df, [])


def test_frame_sample_counts_and_hashes_match_python_model(spark, smoke_dir):
    """q84's per-frame fan-out re-derived row-for-row by a pure-Python
    model: n_frames = len(utf8 payload) % 4 + 1, frame_hash =
    md5(sha256hex(text) + ':' + frame_id). Covers the mapInPandas
    flat-map plumbing independently of the driver's oracle row."""
    import hashlib

    from hadoop_trans_spark.queries import QUERIES

    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, smoke_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    expected = set()
    for doc_id, text in docs.items():
        payload = text.encode("utf-8")
        checksum = hashlib.sha256(payload).hexdigest()
        n_frames = len(payload) % 4 + 1
        for i in range(n_frames):
            expected.add(
                (
                    doc_id,
                    i,
                    n_frames,
                    i * 40_000,
                    hashlib.md5(f"{checksum}:{i}".encode()).hexdigest(),
                )
            )
    got = {
        (r["doc_id"], r["frame_id"], r["n_frames"], r["frame_us"], r["frame_hash"])
        for r in QUERIES["q84_frame_sample"](spark, smoke_dir).collect()
    }
    assert got == expected


def test_raw_decode_channel_means_match_python_model(spark, smoke_dir):
    """q121's end-to-end decode checked against the arithmetic pixel
    rule computed in plain Python: pixel i = (doc_id + i) % 256, channel
    i % 3, mean over w*h pixels."""
    from hadoop_trans_spark.queries import QUERIES

    out = {
        r["doc_id"]: r
        for r in QUERIES["q121_raw_decode"](spark, smoke_dir).collect()
    }
    doc_ids = sorted(out)
    assert len(doc_ids) >= 100
    for doc_id in doc_ids[:25]:
        w, h = 8 + doc_id % 5, 6
        sums = [0, 0, 0]
        for i in range(w * h * 3):
            sums[i % 3] += (doc_id + i) % 256
        r = out[doc_id]
        assert r["n_bytes"] == w * h * 3 + 8
        assert (r["width"], r["height"]) == (w, h)
        for ch, name in enumerate(("mean_r", "mean_g", "mean_b")):
            assert abs(r[name] - round(sums[ch] / (w * h), 6)) < 1e-9, (
                doc_id,
                name,
            )


def test_wav_decode_matches_python_wave_model(spark):
    """q151's decoder vs an independent Python model: decode the same
    synthesized WAV bytes directly with wave+struct and compare every
    feature — pins the Spark-side Arrow path to the stdlib ground truth."""
    import io
    import struct
    import wave as wave_mod

    from hadoop_trans_spark.operators.multimodal import (
        WAV_MIME,
        decode_wav_features,
        encode_wav_square,
    )
    from hadoop_trans_spark.testing.media import synth_media

    ids = [0, 3, 17, 44]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: (
            r["sample_rate"], r["n_frames"], r["duration_us"],
            r["peak"], r["rms"], r["n_zero_cross"],
        )
        for r in decode_wav_features(
            synth_media(df, encode_wav_square, WAV_MIME)
        ).collect()
    }
    for i in ids:
        with wave_mod.open(io.BytesIO(encode_wav_square(i))) as w:
            n, sr = w.getnframes(), w.getframerate()
            xs = struct.unpack(f"<{n}h", w.readframes(n))
        peak = max(abs(v) for v in xs)
        rms = (sum(v * v for v in xs) / n) ** 0.5
        zc = sum(1 for a, b in zip(xs, xs[1:]) if a * b < 0)
        assert got[i] == (sr, n, n * 1_000_000 // sr, peak, rms, zc)


def test_wav_decode_rejects_wrong_mime_and_ppm_dead_letters_truncation(spark):
    """Two failure contracts (r12 quarantine split): an UNSUPPORTED
    mime is a configuration error and must fail LOUDLY
    (NotImplementedError — the documented codec gate); a MALFORMED
    payload of a supported mime is data, not configuration, and is
    dead-lettered (skipped) so one truncated blob cannot kill a
    100 TB job — validate_media accounts for it upstream."""
    import pytest
    from pyspark.sql.utils import PythonException

    from hadoop_trans_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_ppm_features,
        decode_wav_features,
        encode_ppm,
    )

    bad_mime = spark.createDataFrame(
        [(1, b"RIFFxxxx", {"mime": "audio/mp3", "n_bytes": 8, "checksum": "c"})],
        MEDIA_SCHEMA,
    )
    with pytest.raises(PythonException, match="no audio decoder"):
        decode_wav_features(bad_mime).collect()

    truncated = encode_ppm(7)[:-5]
    good = encode_ppm(8)
    mixed = spark.createDataFrame(
        [
            (
                7,
                truncated,
                {"mime": "image/x-portable-pixmap", "n_bytes": len(truncated), "checksum": "c"},
            ),
            (
                8,
                good,
                {"mime": "image/x-portable-pixmap", "n_bytes": len(good), "checksum": "c"},
            ),
        ],
        MEDIA_SCHEMA,
    )
    rows = decode_ppm_features(mixed).collect()
    assert [r.doc_id for r in rows] == [8]  # corrupt row quarantined, good row decoded


def test_validate_media_triage_reconciles_with_wav_decode(spark):
    """ADVICE r12: a structurally sound stereo / non-16-bit WAV used to
    triage 'ok' while decode_wav_features dead-lettered it, breaking
    the validate-then-decode count reconciliation. Such clips must now
    triage 'unsupported', so (#ok == #decoded rows) holds exactly, for
    every audio decoder."""
    import io
    import wave as wave_mod

    from hadoop_trans_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        WAV_MIME,
        decode_spectral,
        decode_wav_features,
        encode_wav_tone,
        validate_media,
    )

    def wav(channels: int, sampwidth: int) -> bytes:
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(sampwidth)
            w.setframerate(8000)
            w.writeframes(b"\x01" * (64 * channels * sampwidth))
        return buf.getvalue()

    clips = [
        (1, encode_wav_tone(1)),  # PCM16 mono -> ok, decodable
        (2, wav(2, 2)),  # stereo PCM16 -> unsupported
        (3, wav(1, 1)),  # 8-bit mono -> unsupported
        (4, b"JUNKJUNKJUNK"),  # header-dead
    ]
    df = spark.createDataFrame(
        [
            (i, p, {"mime": WAV_MIME, "n_bytes": len(p), "checksum": "c"})
            for i, p in clips
        ],
        MEDIA_SCHEMA,
    )
    triage = {r.doc_id: r.status for r in validate_media(df).collect()}
    assert triage == {1: "ok", 2: "unsupported", 3: "unsupported", 4: "header"}
    for decode in (decode_wav_features, decode_spectral):
        decoded = sorted(r.doc_id for r in decode(df).collect())
        assert decoded == sorted(
            i for i, s in triage.items() if s == "ok"
        ), decode.__name__


def test_orc_boundary_is_byte_faithful_on_hostile_strings(spark, tmp_path):
    """r13 (VERDICT r12 item 7): the r12 hostile-scalar campaign fixed
    the CSV boundary's <=0x20 trim corruption; this pins the ORC
    boundary as byte-faithful on the same class — edge whitespace,
    embedded/edge NULs, tabs, newlines all round-trip exactly."""
    from hadoop_trans_spark.sources import read_orc

    vals = [
        "  edge spaces  ", "tab\tinside", "nul\x00byte", "\x00lead",
        "trail\x00", "new\nline", "normal#1",
    ]
    df = spark.createDataFrame(list(enumerate(vals)), "id long, s string")
    df.write.orc(str(tmp_path / "orc"))
    back = {
        r.id: r.s
        for r in read_orc(
            spark, str(tmp_path / "orc"), "id long, s string"
        ).collect()
    }
    assert back == dict(enumerate(vals))


def test_xml_boundary_contract_on_hostile_strings(spark, tmp_path):
    """The XML twin of the CSV trim fix: the reader used to TRIM edge
    whitespace (ignoreSurroundingSpaces default) — now byte-faithful
    for every legal XML character (edge spaces, tabs, newlines, markup
    specials). Characters ILLEGAL in XML 1.0 (NUL, most C0 controls)
    must fail the WRITE loudly — a refusal, never silent mangling."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from hadoop_trans_spark.sources import read_xml

    vals = [
        "  edge spaces  ", "tab\tinside", "new\nline",
        "amp & < > quote \" '", "normal#1",
    ]
    df = spark.createDataFrame(list(enumerate(vals)), "id long, s string")
    df.write.format("xml").option("rowTag", "r").save(str(tmp_path / "xml"))
    back = {
        r.id: r.s
        for r in read_xml(
            spark, str(tmp_path / "xml"), "id long, s string", row_tag="r"
        ).collect()
    }
    assert back == dict(enumerate(vals))

    bad = spark.createDataFrame([(0, "nul\x00byte")], "id long, s string")
    with pytest.raises(Py4JJavaError):
        bad.write.mode("overwrite").format("xml").option("rowTag", "r").save(
            str(tmp_path / "xml_bad")
        )


def test_kmeans_sampled_fit_matches_full_fit_within_bounds(spark, smoke_dir):
    """The documented 100 TB path (fit on a sample, assign the full
    corpus) as an executable differential (VERDICT r13 item 6):
    kmeans_fit(fit_sample_frac=0.5) must produce (a) a TOTAL assignment
    over the same vectors the full fit covers, (b) a clustering that
    agrees with the full fit at Rand index >= 0.7 (measured ~0.80 on
    the fixture — different deterministic seeds, same structure), and
    (c) mean quantization error within 1.1x of the full fit (measured
    ~1.006x — the sample loses almost nothing, which is the point of
    the path)."""
    from itertools import combinations

    from hadoop_trans_spark.operators.kmeans import kmeans_fit

    e = table(spark, smoke_dir, "embeddings")
    full_a, _ = kmeans_fit(e, k=8, iters=2)
    samp_a, cents = kmeans_fit(e, k=8, iters=2, fit_sample_frac=0.5)
    assert 0 < len(cents) <= 8
    fa = {r.id: (r.cluster, r.d2) for r in full_a.collect()}
    sa = {r.id: (r.cluster, r.d2) for r in samp_a.collect()}
    assert set(fa) == set(sa)  # total over the identical corpus
    ids = sorted(fa)
    agree = total = 0
    for a, b in combinations(ids[:200], 2):  # 19900 pairs, deterministic
        total += 1
        agree += (fa[a][0] == fa[b][0]) == (sa[a][0] == sa[b][0])
    assert agree / total >= 0.7, f"rand index {agree / total:.3f}"
    mf = sum(d for _, d in fa.values()) / len(fa)
    ms = sum(d for _, d in sa.values()) / len(sa)
    assert ms <= 1.1 * mf, f"quantization error ratio {ms / mf:.3f}"


def test_kmeans_sampled_fit_falls_back_when_sample_under_k(spark):
    """A sample too small to seed k centroids is not a model: the fit
    silently uses the full corpus (documented fallback), never raises
    and never returns a sub-k degenerate codebook."""
    from hadoop_trans_spark.operators.kmeans import kmeans_fit

    rows = [(i, [float(i), float(i % 3)]) for i in range(6)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # frac tiny enough that the hash bucket keeps < k=3 of 6 ids
    a, cents = kmeans_fit(e, k=3, iters=2, fit_sample_frac=1e-6)
    assert len(cents) == 3
    assert a.count() == 6


def test_kmeans_fused_fit_matches_per_subspace_fits(spark):
    """kmeans_fit_fused's contract (r15, VERDICT r14 item 8): per-
    subspace assignments AND centroids bit-identical to separate
    kmeans_fit runs over the same slices — full and sampled paths,
    including a vector usable in one subspace but not the other (the
    per-(id, s) filter edge)."""
    from pyspark.sql import functions as F

    from hadoop_trans_spark.operators.kmeans import (
        kmeans_fit,
        kmeans_fit_fused,
    )

    rows = [
        (i, [float((i * 7 + j) % 13) - 6.0 for j in range(8)])
        for i in range(200)
    ]
    # poison one vector's SECOND half: usable in subspace 0 only
    rows[17] = (17, rows[17][1][:4] + [float("nan")] + rows[17][1][5:])
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    spans = [(1, 4), (5, 4)]
    slices = [F.slice("v", lo, n) for lo, n in spans]

    def canon(cents):
        return sorted(
            (int(r["cluster"]), list(r["c"]), float(r["c_sq"]))
            for r in cents
        )

    for frac in (None, 0.5):
        fused = kmeans_fit_fused(
            df, slices, k=3, iters=2, fit_sample_frac=frac
        )
        for s, (lo, n) in enumerate(spans):
            sub = df.select(
                "vec_id", F.slice("v", lo, n).alias("embedding")
            )
            a_ref, c_ref = kmeans_fit(
                sub, k=3, iters=2, fit_sample_frac=frac
            )
            a_f, c_f = fused[s]
            assert sorted(map(tuple, a_ref.collect())) == sorted(
                map(tuple, a_f.collect())
            ), (frac, s)
            assert canon(c_ref) == canon(c_f), (frac, s)
    # subspace-0-only row really was excluded from subspace 1
    assert fused[1][0].where(F.col("id") == 17).count() == 0
    assert fused[0][0].where(F.col("id") == 17).count() == 1
