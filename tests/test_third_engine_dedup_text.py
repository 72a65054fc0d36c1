"""Third-engine rederivations for the MinHash-dedup and text-analysis
families (E33/E34 — the r8 re-confirmation window's center of mass).

The DuckDB oracles for these queries replicate the repo's pipelines in
SQL (same md5 seeds, same banding), so they share authorship with the
Spark code. These tests re-implement the PUBLISHED algorithms a third
time in pure Python — hashlib md5 for the Broder '97 minhash family and
the LSH banding of Leskovec/Rajaraman/Ullman ch.3, a union-find for
transitive closure, `re` + `collections` for the text statistics — and
compare full query outputs. No repo SQL, no Spark expressions, no DuckDB
beyond raw column projection.

Engine-parity notes baked into the model:

* Spark `F.split(c, " ")` keeps empty tokens; `F.trim` strips ASCII
  spaces only; Java's `\\s` is the ASCII class — mirrored with
  `re.ASCII` and `str.strip(" ")`.
* hash j of a shingle is chars [8j, 8j+8) of md5("0:"+s)+md5("1:"+s)…;
  the min is LEXICOGRAPHIC over the hex chunks (engine-portable string
  order, documented in operators/minhash.py).
* `F.round(double, 6)` is HALF_UP over the double's shortest repr —
  modeled with Decimal(repr(x)).quantize(1e-6, HALF_UP).

Run at sf0.01 too when touched:

    SF_SMOKE_DIR=/root/testdata/sf0.01 python -m pytest \
        tests/test_third_engine_dedup_text.py -q
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb

from hadoop_trans_spark.queries import QUERIES

WS = re.compile(r"\s+", re.ASCII)
TOKEN = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", re.ASCII)
PUNCT = re.compile(r"[.,!?;:]")
STOPWORDS = {"the", "a", "of", "and", "to", "in", "is", "it"}


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


# --- pure-Python MinHash/LSH engine (Broder '97; LRU ch.3 banding) ----------


def _shingles(text: str, k: int = 3) -> list[str]:
    """Distinct word k-grams, first-occurrence order — F.split(text, ' ')
    keeps empty tokens for runs of spaces, sequence(1, max(n-k+1, 1))."""
    ws = text.split(" ")
    out, seen = [], set()
    for i in range(max(len(ws) - (k - 1), 1)):
        s = " ".join(ws[i : i + k])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _minhash_sig(grams: list[str], n_hashes: int = 8) -> list[str]:
    n_md5 = (n_hashes + 3) // 4
    hcats = [
        "".join(
            hashlib.md5(f"{m}:{s}".encode()).hexdigest() for m in range(n_md5)
        )
        for s in grams
    ]
    return [
        min(h[8 * j : 8 * j + 8] for h in hcats) for j in range(n_hashes)
    ]


def _band_sigs(sig: list[str], bands: int = 4) -> list[tuple[int, str]]:
    r = len(sig) // bands
    return [
        (b, hashlib.md5(",".join(sig[b * r : (b + 1) * r]).encode()).hexdigest())
        for b in range(bands)
    ]


def _jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _minhash_model(smoke_dir: str):
    """(grams per doc, band buckets) with the q40-family parameters:
    k=3 shingles, 8 hashes, 4 bands."""
    grams = {int(d): _shingles(t) for d, t, *_ in _docs(smoke_dir)}
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, g in grams.items():
        for key in _band_sigs(_minhash_sig(g)):
            buckets.setdefault(key, []).append(i)
    return grams, buckets


def _verified_pairs(smoke_dir: str, threshold: float = 0.5, max_bucket: int = 1000):
    """Self-join pairs (id_a < id_b), bucket-capped, exact-Jaccard
    verified — the contract of queries/dedup.minhash_pairs."""
    grams, buckets = _minhash_model(smoke_dir)
    gsets = {i: set(g) for i, g in grams.items()}
    cand = set()
    for ids in buckets.values():
        if len(ids) > max_bucket:
            continue
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    return {
        (a, b): _jaccard(gsets[a], gsets[b])
        for a, b in cand
        if _jaccard(gsets[a], gsets[b]) >= threshold
    }


def _components(pairs) -> dict[int, int]:
    """Union-find min-label transitive closure over pair edges."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# --- text-statistic formulas (pure python) -----------------------------------


def _words(text: str) -> list[str]:
    return WS.split(text.strip(" "))


def _punct_ratio(text: str) -> float:
    removed = PUNCT.sub("", text)
    return _rnd6((len(text) - len(removed)) / max(len(text), 1))


def _stopword_ratio(text: str) -> float:
    ws = _words(text.lower())
    return _rnd6(sum(w in STOPWORDS for w in ws) / max(len(ws), 1))


def _quality(text: str) -> float:
    length_term = min(len(text) / 500.0, 1.0)
    punct_term = 1.0 - min(_punct_ratio(text) * 5.0, 1.0)
    stop_term = 1.0 - min(abs(_stopword_ratio(text) - 0.15) * 4.0, 1.0)
    return _rnd6((length_term + punct_term + stop_term) / 3.0)


def _normalize(text: str) -> str:
    return WS.sub(" ", text.lower()).strip(" ")


# --- tests -------------------------------------------------------------------


def test_text_stats_match_python(spark, smoke_dir):
    """q35: char/word/line/token counts + ratios per doc."""
    expect = [
        {
            "doc_id": int(d),
            "n_chars_calc": len(t),
            "n_words": len(_words(t)),
            "n_lines": len(t.split("\n")),
            "n_tokens": len(TOKEN.findall(t)),
            "punct_ratio": _punct_ratio(t),
            "stopword_ratio": _stopword_ratio(t),
        }
        for d, t, *_ in _docs(smoke_dir)
    ]
    assert _rows(spark, smoke_dir, "q35_text_stats") == expect


def test_corpus_profile_matches_python(spark, smoke_dir):
    """q36: per-(lang, source) counts and length stats; avg via exact
    Decimal sum quantized HALF_UP at 6 (the davg contract)."""
    groups: dict[tuple[str, str], list[int]] = {}
    for _d, _t, lang, source, n_chars in _docs(smoke_dir):
        groups.setdefault((lang, source), []).append(int(n_chars))
    expect = [
        {
            "lang": lang,
            "source": source,
            "n_docs": len(ns),
            "avg_chars": float(
                (Decimal(sum(ns)) / len(ns)).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            ),
            "min_chars": min(ns),
            "max_chars": max(ns),
        }
        for (lang, source), ns in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q36_corpus_quality_profile") == expect


def test_lang_id_matches_python(spark, smoke_dir):
    """q37: the five-way stopword vote + CJK detection."""
    expect = []
    for d, t, lang, *_ in _docs(smoke_dir):
        lw = _words(t.lower())
        v_en = sum(w in ("the", "a", "and", "of") for w in lw)
        v_es = sum(w in ("el", "la", "los", "de", "y") for w in lw)
        v_de = sum(w in ("der", "die", "das", "und") for w in lw)
        v_fr = sum(w in ("le", "la", "les", "et") for w in lw)
        if any(ord(ch) > 0x7F for ch in t):
            pred = "zh"
        elif v_en >= v_es and v_en >= v_de and v_en >= v_fr and v_en > 0:
            pred = "en"
        elif v_es >= v_de and v_es >= v_fr and v_es > 0:
            pred = "es"
        elif v_de >= v_fr and v_de > 0:
            pred = "de"
        elif v_fr > 0:
            pred = "fr"
        else:
            pred = "und"
        expect.append({"doc_id": int(d), "lang_label": lang, "lang_pred": pred})
    assert _rows(spark, smoke_dir, "q37_lang_id") == expect


def test_dedup_canonical_matches_python_minhash(spark, smoke_dir):
    """q64: full MinHash/LSH pipeline re-run in hashlib; drop the higher
    id of every verified pair; per-lang corpus fingerprint."""
    pairs = _verified_pairs(smoke_dir)
    losers = {b for _a, b in pairs}
    groups: dict[str, list] = {}
    for d, _t, lang, _s, n_chars in _docs(smoke_dir):
        if int(d) not in losers:
            groups.setdefault(lang, []).append((int(d), int(n_chars)))
    expect = [
        {
            "lang": lang,
            "n_docs": len(g),
            "id_sum": sum(i for i, _ in g),
            "chars_total": sum(c for _, c in g),
        }
        for lang, g in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q64_dedup_canonical") == expect
    assert losers, "fixture has no near-dups — dedup not exercised"


def test_dedup_clusters_match_union_find(spark, smoke_dir):
    """q68: transitive closure of the verified pairs via union-find."""
    comp = _components(_verified_pairs(smoke_dir))
    clusters: dict[int, list[int]] = {}
    for node, label in comp.items():
        clusters.setdefault(label, []).append(node)
    expect = [
        {
            "cluster_id": cid,
            "n_members": len(ms),
            "members": ",".join(str(m) for m in sorted(ms)),
        }
        for cid, ms in sorted(clusters.items())
    ]
    assert _rows(spark, smoke_dir, "q68_dedup_clusters") == expect
    # chains matter: at least one multi-member cluster exists
    assert any(len(ms) >= 2 for ms in clusters.values())


def test_dedup_keep_best_matches_python(spark, smoke_dir):
    """q85: within each cluster keep the highest quality score (tie →
    lowest id); quality re-derived from the textbook composite."""
    comp = _components(_verified_pairs(smoke_dir))
    quality = {int(d): _quality(t) for d, t, *_ in _docs(smoke_dir)}
    clusters: dict[int, list[int]] = {}
    for node, label in comp.items():
        clusters.setdefault(label, []).append(node)
    expect = []
    for cid, ms in sorted(clusters.items()):
        best = sorted(ms, key=lambda i: (-quality[i], i))[0]
        expect.append(
            {
                "cluster_id": cid,
                "keep_doc": best,
                "keep_score": quality[best],
                "n_members": len(ms),
            }
        )
    assert _rows(spark, smoke_dir, "q85_dedup_keep_best") == expect


def test_incremental_dedup_matches_python(spark, smoke_dir):
    """q86: corpus (even ids) vs new batch (odd ids) candidates through
    the SAME band buckets, no a<b triangle and no bucket cap; each new
    doc keeps its best corpus match (jaccard desc, id asc)."""
    grams, buckets = _minhash_model(smoke_dir)
    gsets = {i: set(g) for i, g in grams.items()}
    cand = set()
    for ids in buckets.values():
        evens = [i for i in ids if i % 2 == 0]
        odds = [i for i in ids if i % 2 == 1]
        for a in evens:
            for b in odds:
                cand.add((a, b))
    best: dict[int, tuple[float, int]] = {}
    for a, b in cand:
        j = _jaccard(gsets[a], gsets[b])
        if j >= 0.5:
            cur = best.get(b)
            if cur is None or (-j, a) < (-cur[0], cur[1]):
                best[b] = (j, a)
    expect = [
        {"new_doc": b, "corpus_match": a, "jaccard": _rnd6(j)}
        for b, (j, a) in sorted(best.items())
    ]
    assert _rows(spark, smoke_dir, "q86_incremental_dedup") == expect


def test_corpus_curation_matches_python(spark, smoke_dir):
    """q70: the end-to-end curation pipeline — cluster removal, exact
    dedup on normalized-content md5, quality thresholds, per-lang
    fingerprint — each stage re-derived in pure python."""
    comp = _components(_verified_pairs(smoke_dir))
    cluster_losers = {n for n, label in comp.items() if n != label}
    seen_keys: dict[str, int] = {}
    kept: list[tuple[int, str, str, int]] = []
    for d, t, lang, _s, n_chars in _docs(smoke_dir):  # doc_id ascending
        i = int(d)
        if i in cluster_losers:
            continue
        ck = hashlib.md5(_normalize(t).encode()).hexdigest()
        if ck in seen_keys:
            continue
        seen_keys[ck] = i
        if (
            int(n_chars) >= 200
            and _punct_ratio(t) <= 0.05
            and _stopword_ratio(t) >= 0.05
        ):
            kept.append((i, t, lang, int(n_chars)))
    groups: dict[str, list] = {}
    for i, _t, lang, n_chars in kept:
        groups.setdefault(lang, []).append((i, n_chars))
    expect = [
        {
            "lang": lang,
            "n_docs": len(g),
            "id_sum": sum(i for i, _ in g),
            "chars_total": sum(c for _, c in g),
        }
        for lang, g in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q70_corpus_curation") == expect


def test_decontaminate_matches_python(spark, smoke_dir):
    """q71: training docs sharing distinct word 4-grams (split on single
    space) with the benchmark subset (doc_id % 97 == 0)."""
    grams4 = {
        int(d): set(_shingles(t, 4)) for d, t, *_ in _docs(smoke_dir)
    }
    bench = set().union(
        *(g for i, g in grams4.items() if i % 97 == 0)
    )
    expect = [
        {"doc_id": i, "n_shared": len(g & bench)}
        for i, g in sorted(grams4.items())
        if i % 97 != 0 and g & bench
    ]
    assert _rows(spark, smoke_dir, "q71_decontaminate") == expect


def test_pii_redaction_matches_python(spark, smoke_dir):
    """q75: the synthetic-PII tail, the three detector regexes, and the
    md5 of the redacted text, all re-run with `re` + hashlib."""
    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    ip = re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")
    phone = re.compile(r"\b\d{3}-\d{4}\b")
    expect = []
    for d, t, *_ in _docs(smoke_dir):
        i = int(d)
        aug = (
            t
            + f" contact user{i}@example.com"
            + (" admin@test.org" if i % 3 == 0 else "")
            + f" or 555-{i % 10000:04d}"
            + f" from 10.0.{i % 256}.1"
        )
        red = phone.sub(
            "<PHONE>", ip.sub("<IP>", email.sub("<EMAIL>", aug))
        )
        expect.append(
            {
                "doc_id": i,
                "n_emails": len(email.findall(aug)),
                "n_ips": len(ip.findall(aug)),
                "n_phones": len(phone.findall(aug)),
                "red_md5": hashlib.md5(red.encode()).hexdigest(),
            }
        )
    assert _rows(spark, smoke_dir, "q75_pii_redaction") == expect


def test_vocab_topk_matches_python(spark, smoke_dir):
    """q77: top-100 tokens by (count desc, token asc) with doc frequency."""
    n = Counter()
    docs_per_token: dict[str, set] = {}
    for d, t, *_ in _docs(smoke_dir):
        for w in _words(t.lower()):
            n[w] += 1
            docs_per_token.setdefault(w, set()).add(int(d))
    ranked = sorted(n.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    expect = [
        {"token": w, "n": c, "n_docs": len(docs_per_token[w])}
        for w, c in ranked
    ]
    assert _rows(spark, smoke_dir, "q77_vocab_topk") == expect


def test_embedding_quantize_matches_python(spark, smoke_dir):
    """q76: symmetric int8 quantization — scale, floor-quantized vector,
    sequential-fold reconstruction error."""
    rows = duckdb.sql(
        f"select vec_id, embedding from "
        f"read_parquet('{smoke_dir}/embeddings.parquet') order by vec_id"
    ).fetchall()
    expect = []
    for vid, emb in rows:
        v = [float(x) for x in emb]
        scale = 127.0 / max(max(abs(x) for x in v), 1e-12)
        q = [int(__import__("math").floor(x * scale)) for x in v]
        err = 0.0
        for x, qi in zip(v, q):
            d = x - qi / scale
            err += d * d
        expect.append(
            {
                "vec_id": int(vid),
                "scale": _rnd6(scale),
                "q_str": ",".join(str(qi) for qi in q),
                "sq_err": _rnd6(err),
            }
        )
    assert _rows(spark, smoke_dir, "q76_embedding_quantize") == expect


def test_signlsh_neardup_matches_python(spark, smoke_dir):
    """q69: Charikar '02 sign-LSH re-run in pure python — ±1 hyperplanes
    from md5 first-hex-digit parity, 32-bit signatures banded 4×8,
    candidates from shared band substrings, exact-cosine top-20."""
    rows = duckdb.sql(
        f"select vec_id, embedding from "
        f"read_parquet('{smoke_dir}/embeddings.parquet') order by vec_id"
    ).fetchall()
    vecs = {int(i): [float(x) for x in v] for i, v in rows}
    planes = [
        [
            1.0
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for d in range(64)
        ]
        for p in range(32)
    ]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    sigs = {
        i: "".join("1" if dot(v, h) > 0 else "0" for h in planes)
        for i, v in vecs.items()
    }
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, s in sigs.items():
        for b in range(4):
            buckets.setdefault((b, s[b * 8 : b * 8 + 8]), []).append(i)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    norms = {i: dot(v, v) ** 0.5 for i, v in vecs.items()}
    scored = [
        (a, b, _rnd6(dot(vecs[a], vecs[b]) / (norms[a] * norms[b])))
        for a, b in cand
    ]
    top = sorted(scored, key=lambda r: (-r[2], r[0], r[1]))[:20]
    expect = [{"id_a": a, "id_b": b, "cos": c} for a, b, c in top]
    got = _rows(spark, smoke_dir, "q69_signlsh_neardup")
    assert got == expect


# --- dedup family completion: the q38-q43/q63/q142 shapes --------------------


def test_exact_dedup_matches_python(spark, smoke_dir):
    """q39: md5 over the canonical form, keep-lowest-id per key."""
    groups: dict[str, list[int]] = {}
    for d, t, *_ in _docs(smoke_dir):
        groups.setdefault(
            hashlib.md5(_normalize(t).encode()).hexdigest(), []
        ).append(int(d))
    expect = sorted(
        (
            {"content_key": k, "keep_doc": min(ids), "n_copies": len(ids)}
            for k, ids in groups.items()
        ),
        key=lambda r: r["keep_doc"],
    )
    assert _rows(spark, smoke_dir, "q39_exact_dedup") == expect
    # Fixture fact: no two documents normalize to identical text, so
    # every group is a singleton — the near-dup families (q40-q42) carry
    # the multi-member cases; this test pins the canonicalization+md5.


def test_minhash_pairs_match_python(spark, smoke_dir):
    """q40: the verified near-dup pairs themselves."""
    pairs = _verified_pairs(smoke_dir)
    expect = [
        {"id_a": a, "id_b": b, "jaccard": _rnd6(j)}
        for (a, b), j in sorted(pairs.items())
    ]
    assert _rows(spark, smoke_dir, "q40_minhash_lsh_neardup") == expect


def _simhash64(text: str) -> int:
    """Charikar '02: each distinct lowercased word-3-gram votes ±1 on
    all 64 bits; fingerprint bit b takes BIT (b % 4) of hex digit
    (b // 4) of md5(gram) — the digest's first 64 actual bits (widened
    from 32 digit-parities in r13, pair-growth audit). Bit 63 is the
    bigint sign bit, so the model returns the same SIGNED value both
    engines emit."""
    grams = _shingles(text.lower())
    votes = [0] * 64
    for g in grams:
        h = hashlib.md5(g.encode()).hexdigest()
        for b in range(64):
            votes[b] += (int(h[b // 4], 16) >> (b % 4)) & 1
    n = len(grams)
    fp = sum(1 << b for b in range(63) if 2 * votes[b] - n > 0)
    if 2 * votes[63] - n > 0:
        fp -= 1 << 63
    return fp


def test_simhash_matches_python(spark, smoke_dir):
    """q41: 64-bit fingerprints (signed bigint)."""
    expect = [
        {"doc_id": int(d), "simhash": _simhash64(t)}
        for d, t, *_ in _docs(smoke_dir)
    ]
    assert _rows(spark, smoke_dir, "q41_simhash") == expect


def test_simhash_neardup_matches_bruteforce(spark, smoke_dir):
    """q63: Hamming ≤ 3 pairs — brute-force over all fingerprints, which
    the pigeonhole segment blocking must reproduce losslessly."""
    fps = {int(d): _simhash64(t) for d, t, *_ in _docs(smoke_dir)}
    ids = sorted(fps)
    expect = []
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = bin((fps[ids[x]] ^ fps[ids[y]]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                expect.append(
                    {"id_a": ids[x], "id_b": ids[y], "hamming": h}
                )
    got = _rows(spark, smoke_dir, "q63_simhash_neardup")
    assert got == expect
    assert expect, "fixture has no simhash near-dups — blocking untested"


def test_ngram_jaccard_matches_bruteforce(spark, smoke_dir):
    """q42: word-3-gram Jaccard ≥ 0.8 with (lang, n_chars//200) blocking,
    brute-forced over raw-text gram sets."""
    blocks: dict[tuple, list] = {}
    for d, t, lang, _s, n_chars in _docs(smoke_dir):
        blocks.setdefault((lang, int(n_chars) // 200), []).append(
            (int(d), set(_shingles(t)))
        )
    expect = []
    for members in blocks.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                (a, ga), (b, gb) = members[x], members[y]
                j = _jaccard(ga, gb)
                if j >= 0.8:
                    expect.append({"id_a": a, "id_b": b, "jaccard": _rnd6(j)})
    expect.sort(key=lambda r: (r["id_a"], r["id_b"]))
    assert _rows(spark, smoke_dir, "q42_ngram_jaccard") == expect
    assert expect


def test_shingle_containment_matches_bruteforce(spark, smoke_dir):
    """q142: asymmetric containment |A∩B|/|A| ≥ 0.9, A the smaller gram
    set, lang-blocked — the AllPairs prefix filter is exactness-preserving
    so the brute force must reproduce the filtered plan's output."""
    docs = [
        (int(d), lang, set(_shingles(t))) for d, t, lang, *_ in _docs(smoke_dir)
    ]
    expect = []
    for x in range(len(docs)):
        for y in range(len(docs)):
            (a, la, ga), (b, lb, gb) = docs[x], docs[y]
            if la != lb:
                continue
            if not (len(ga) < len(gb) or (len(ga) == len(gb) and a < b)):
                continue
            cont = len(ga & gb) / len(ga)
            if cont >= 0.9:
                expect.append(
                    {"id_a": a, "id_b": b, "containment": _rnd6(cont)}
                )
    expect.sort(key=lambda r: (r["id_a"], r["id_b"]))
    assert _rows(spark, smoke_dir, "q142_shingle_containment") == expect
    assert expect


def test_doc_fingerprint_matches_python(spark, smoke_dir):
    """q38: min/max md5 over all 8-char rolling windows."""
    expect = []
    for d, t, *_ in _docs(smoke_dir):
        hs = [
            hashlib.md5(t[i : i + 8].encode()).hexdigest()
            for i in range(max(len(t) - 7, 1))
        ]
        expect.append(
            {"doc_id": int(d), "fp_min": min(hs), "fp_max": max(hs)}
        )
    assert _rows(spark, smoke_dir, "q38_doc_fingerprint") == expect


def test_embedding_neardup_matches_bruteforce(spark, smoke_dir):
    """q43: label-blocked exact-cosine pairs ≥ 0.4."""
    rows = duckdb.sql(
        f"select vec_id, label, embedding from "
        f"read_parquet('{smoke_dir}/embeddings.parquet') order by vec_id"
    ).fetchall()
    vecs = [(int(i), lab, [float(x) for x in v]) for i, lab, v in rows]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    expect = []
    for x in range(len(vecs)):
        for y in range(x + 1, len(vecs)):
            (a, la, va), (b, lb, vb) = vecs[x], vecs[y]
            if la != lb:
                continue
            cos = dot(va, vb) / (dot(va, va) ** 0.5 * dot(vb, vb) ** 0.5)
            if cos >= 0.4:
                expect.append({"id_a": a, "id_b": b, "cos": _rnd6(cos)})
    expect.sort(key=lambda r: (r["id_a"], r["id_b"]))
    assert _rows(spark, smoke_dir, "q43_embedding_neardup") == expect
    assert expect


# --- round 12: Unicode normalization / homoglyph skeleton -------------------
#
# Pure-Python rederivation via the stdlib's unicodedata (Unicode TR#15
# canonical composition) and str.translate — no repo SQL. The DuckDB
# oracle's nfc_normalize is utf8proc, so NFC itself is cross-checked by
# three independent implementations (ICU-free stdlib here, utf8proc in
# the oracle, and the engine's pandas-UDF path).

_ZW = "​‌‍﻿"
_CONFUSE_MAP = str.maketrans("аеорсхуіѕј", "aeopcxyisj")


def _strip_zw(t: str) -> str:
    return "".join(ch for ch in t if ch not in _ZW)


def test_unicode_normalize_matches_python(spark, smoke_dir):
    """q242: raw/NFC lengths + changed flag per doc."""
    import unicodedata

    expect = []
    for d, t, *_ in _docs(smoke_dir):
        norm = unicodedata.normalize("NFC", _strip_zw(t))
        expect.append(
            {
                "doc_id": int(d),
                "n_raw": len(t),
                "n_norm": len(norm),
                "changed": norm != t,
            }
        )
    assert _rows(spark, smoke_dir, "q242_unicode_normalize") == expect


def test_confusable_skeleton_dedup_matches_python(spark, smoke_dir):
    """q243: clusters keyed on the homoglyph skeleton (zero-width
    stripped, Cyrillic lookalikes folded, lowercased), md5-hashed.
    The smoke fixture has no duplicate texts, so the pristine result
    is empty — assert that AND the cluster arithmetic on a synthetic
    confusable corpus appended in-memory via DuckDB-free plumbing."""
    groups: dict[str, list[tuple[int, str]]] = {}
    for d, t, *_ in _docs(smoke_dir):
        if t is None:
            continue
        sk = _strip_zw(t).translate(_CONFUSE_MAP).lower()
        h = hashlib.md5(sk.encode("utf-8")).hexdigest()
        groups.setdefault(h, []).append((int(d), t))
    expect = [
        {
            "canonical_id": min(d for d, _ in members),
            "skeleton_hash": h,
            "n_docs": len(members),
            "n_raw_variants": len({t for _, t in members}),
        }
        for h, members in groups.items()
        if len(members) > 1
    ]
    expect.sort(key=lambda r: r["canonical_id"])
    assert _rows(spark, smoke_dir, "q243_confusable_skeleton_dedup") == expect


def test_confusable_skeleton_collapses_homoglyph_variants(spark, tmp_path):
    """q243 on a hand-built corpus: the Cyrillic spoof, the zero-width
    variant, and the case variant of one string must land in ONE
    cluster with n_raw_variants = 3; the unrelated doc stays out."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "paypal security alert",
                "pаypаl security аlert",          # Cyrillic а/е lookalikes
                "pay​pal security alert",     # zero-width split
                "unrelated document",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [21, 21, 22, 18],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    rows = _rows(spark, str(tmp_path), "q243_confusable_skeleton_dedup")
    assert len(rows) == 1
    assert rows[0]["canonical_id"] == 1
    assert rows[0]["n_docs"] == 3
    assert rows[0]["n_raw_variants"] == 3


def test_span_dedup_matches_python_window_merge(spark, smoke_dir):
    """q252: overlapping 8-token window hashes, corpus-wide count >= 2,
    per-doc merge of overlapping/adjacent duplicated windows into
    maximal spans — re-derived with plain dicts and a linear scan."""
    K = 8
    wins: list[tuple[int, int, str]] = []
    for d, t, *_ in _docs(smoke_dir):
        if t is None:
            continue
        toks = t.lower().split(" ")
        for i in range(len(toks) - K + 1):
            h = hashlib.md5(" ".join(toks[i : i + K]).encode()).hexdigest()
            wins.append((int(d), i + 1, h))
    cnt = Counter(h for _, _, h in wins)
    by_doc: dict[int, list[int]] = {}
    for d, s, h in wins:
        if cnt[h] >= 2:
            by_doc.setdefault(d, []).append(s)
    expect = []
    for d in sorted(by_doc):
        starts = sorted(by_doc[d])
        first, prev, nw = starts[0], starts[0], 1
        for s in starts[1:]:
            if s > prev + K:
                expect.append(
                    {"doc_id": d, "span_start": first,
                     "span_end": prev + K - 1, "n_windows": nw}
                )
                first, nw = s, 0
            prev = s
            nw += 1
        expect.append(
            {"doc_id": d, "span_start": first,
             "span_end": prev + K - 1, "n_windows": nw}
        )
    got = _rows(spark, smoke_dir, "q252_span_dedup")
    assert got == expect
    assert expect, "fixture has no repeated 8-token spans — merge untested"


def test_span_removal_matches_python_exactsubstr(spark, smoke_dir):
    """q255: ExactSubstr removal re-derived with dicts — every
    duplicated 8-token window keeps its first occurrence by
    (doc_id, start); all other occurrences' token positions are
    removed; the rebuilt text is the kept tokens in order."""
    K = 8
    toks_by_doc: dict[int, list[str]] = {}
    occ: dict[str, list[tuple[int, int]]] = {}
    for d, t, *_ in _docs(smoke_dir):
        if t is None:
            continue
        toks = t.lower().split(" ")
        toks_by_doc[int(d)] = toks
        for i in range(len(toks) - K + 1):
            h = hashlib.md5(" ".join(toks[i : i + K]).encode()).hexdigest()
            occ.setdefault(h, []).append((int(d), i + 1))
    removed: dict[int, set[int]] = {}
    for h, sites in occ.items():
        if len(sites) < 2:
            continue
        for d, s in sorted(sites)[1:]:
            removed.setdefault(d, set()).update(range(s, s + K))
    expect = []
    for d in sorted(toks_by_doc):
        toks = toks_by_doc[d]
        gone = removed.get(d, set())
        kept = [w for i, w in enumerate(toks, start=1) if i not in gone]
        expect.append(
            {
                "doc_id": d,
                "n_tokens": len(toks),
                "n_removed": len(toks) - len(kept),
                "kept_md5": hashlib.md5(" ".join(kept).encode()).hexdigest(),
            }
        )
    got = _rows(spark, smoke_dir, "q255_span_removal")
    assert got == expect
    assert any(r["n_removed"] > 0 for r in expect), (
        "fixture has no repeated spans — removal untested"
    )
    assert any(
        r["n_removed"] == r["n_tokens"] for r in expect
    ), "no fully-removed duplicate doc in fixture — md5('') branch untested"


def test_incremental_span_dedup_matches_python(spark, smoke_dir):
    """q257: odd-doc (new batch) windows flagged iff their hash exists
    in the even-doc (corpus) window index, merged into maximal spans —
    re-derived with sets and a linear scan."""
    K = 8
    wins: list[tuple[int, int, str]] = []
    for d, t, *_ in _docs(smoke_dir):
        if t is None:
            continue
        toks = t.lower().split(" ")
        for i in range(len(toks) - K + 1):
            h = hashlib.md5(" ".join(toks[i : i + K]).encode()).hexdigest()
            wins.append((int(d), i + 1, h))
    idx = {h for d, _, h in wins if d % 2 == 0}
    by_doc: dict[int, list[int]] = {}
    for d, s, h in wins:
        if d % 2 == 1 and h in idx:
            by_doc.setdefault(d, []).append(s)
    expect = []
    for d in sorted(by_doc):
        starts = sorted(by_doc[d])
        first, prev, nw = starts[0], starts[0], 1
        for s in starts[1:]:
            if s > prev + K:
                expect.append(
                    {"doc_id": d, "span_start": first,
                     "span_end": prev + K - 1, "n_windows": nw}
                )
                first, nw = s, 0
            prev = s
            nw += 1
        expect.append(
            {"doc_id": d, "span_start": first,
             "span_end": prev + K - 1, "n_windows": nw}
        )
    got = _rows(spark, smoke_dir, "q257_incremental_span_dedup")
    assert got == expect
    assert expect, "no cross-split repeated spans in fixture — untested"
