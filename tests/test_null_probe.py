"""NULL-injection differential tests (the q239/ADVICE-r9 bug class).

The driver fixtures carry ZERO NULLs in the nullable business columns, so
a Spark-vs-oracle NULL-semantics asymmetry passes every existing gate
silently. tools/null_probe.py makes the class sweepable; the round-10
full-fixture sweep found four latent divergences, each now fixed and
pinned here by running the real query against its real oracle on an
injected copy — both engines read the SAME parquet, so any mismatch is
engine semantics, never fixture noise:

- q160_ohlc_bars: Spark min_by/max_by returned the NULL value sitting at
  the extremal key; DuckDB arg_min/arg_max skip NULL values. Fixed by
  NULLing the pick key for NULL-valued rows.
- q143_event_paths: DuckDB's || propagates a NULL step into a NULL path;
  Spark concat_ws SKIPS the null and fabricated a 2-step path. Fixed by
  requiring all three steps non-null in both engines.
- q183_stream_windowed_topk: the rank tie-break sorted a NULL event_type
  group NULLS FIRST in Spark vs DuckDB's default NULLS LAST. Fixed with
  asc_nulls_last.
- q31_json_funcs: json_valid(NULL)=NULL vs from_json(NULL).isNotNull()=
  False; two-state FALSE chosen in both engines (tri-state boolean does
  not round-trip the two pandas bridges identically).

The documents-side injection then surfaced fifteen more, all fixed:

- The whole shingle-based dedup family (q40/q41/q42/q63/q64/q68/q71/
  q72/q85/q86/q142): shingle_array degenerates on NULL text to the
  single shingle "", so every NULL-text doc fingerprinted identically
  and the pair stages emitted the NULL-doc clique (q40: +21 pairs =
  C(7,2)). Rule: contentless docs are excluded from content dedup — the
  shared stages (word_shingles, grams3_table, simhash, decontaminate,
  repetition_stats) now filter text IS NOT NULL, mirrored explicitly in
  the oracles that didn't already drop them via null-propagating ops.
- Worker crashes on NULL input (q49 astype int64 on NaN, q48/q84
  mapInPandas len(None), q150 encode(None), q149 short-line parse):
  NULL token counts are NULL (nullable Int64), decoders skip NULL
  payloads, line/blob exports filter NULL fields symmetrically with
  their oracles (a delimited line format cannot carry NULLs).
- q32/q46: DuckDB concat/concat_ws skip NULLs where Spark's concat
  propagates — both now use null-propagating concatenation on both
  sides. q30: nullable-boolean bridge (same as q31), two-state FALSE.

The embeddings-side injection (NULL vectors) surfaced four more, fixed
under one rule — a missing vector has no signature/cluster/components,
so NULL embeddings are excluded symmetrically in both engines: q105
kmeans crashed the driver-side centroid fold on a NULL seed, q69/q119's
oracles raise on list_dot_product(NULL), and q211's oracle COUNT(*)
denominator counted the NULL vectors' component rows.

Plus q239_markov_stationary (the original ADVICE find, also covered by
its dedicated test in test_analytics_properties.py) and the untouched
transition siblings q106/q217 as canaries.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from hadoop_trans_spark.queries import ORACLE, QUERIES
from hadoop_trans_spark.testing.oracle import compare
from tools import null_probe as np_mod

PROBED = [
    # events-side finds (round-10 probe, batch 1)
    "q160_ohlc_bars",
    "q143_event_paths",
    "q183_stream_windowed_topk",
    "q31_json_funcs",
    # documents-side finds (batch 2): dedup family
    "q40_minhash_lsh_neardup",
    "q41_simhash",
    "q42_ngram_jaccard",
    "q63_simhash_neardup",
    "q64_dedup_canonical",
    "q68_dedup_clusters",
    "q71_decontaminate",
    "q72_repetition_quality",
    "q85_dedup_keep_best",
    "q86_incremental_dedup",
    "q142_shingle_containment",
    # batch 2: NULL-input worker crashes
    "q49_pandas_udf_tokens",
    "q48_media_features",
    "q84_frame_sample",
    "q149_text_source",
    "q150_binaryfile_source",
    # batch 2: concat/boolean-bridge value divergences
    "q30_array_words",
    "q32_hash_funcs",
    "q46_struct_nested",
    # embeddings-side finds (batch 3): NULL vectors excluded from
    # similarity/clustering in both engines (kmeans rule)
    "q69_signlsh_neardup",
    "q105_kmeans_clusters",
    "q119_hard_negatives",
    "q211_embedding_covariance",
    "q44_cosine_topk",  # canary: survived unfixed (NULL cos ranks last)
    # the original ADVICE r9 find + untouched canaries
    "q239_markov_stationary",
    "q106_event_transitions",
    "q217_transition_entropy",
    "q35_text_stats",
    "q38_doc_fingerprint",
    "q77_vocab_topk",
]


@pytest.fixture(scope="module")
def injected_dir(tmp_path_factory, smoke_dir):
    """sf0.001 copy with deterministic NULLs in events, documents, and
    embeddings."""
    dst = str(tmp_path_factory.mktemp("nullprobe"))
    strides_by_table = {
        "events": np_mod.EVENT_STRIDES,
        "documents": np_mod.DOC_STRIDES,
        "embeddings": np_mod.EMB_STRIDES,
    }
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t in strides_by_table:
            df = np_mod.inject(pd.read_parquet(src), strides_by_table[t], scale=1)
            assert df.isna().any().any(), f"{t}: injection produced no NULLs"
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def injected_oracle(injected_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{injected_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", PROBED)
def test_query_matches_oracle_on_null_injected_fixture(
    name, spark, injected_dir, injected_oracle
):
    res = compare(
        name, QUERIES[name](spark, injected_dir), injected_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- edge-value tier: empty / whitespace-only / multibyte UTF-8 text ----
#
# The full 241-query sweep on the edge-injected fixture found exactly ONE
# divergence: q150's oracle measured length(text) (CHARS) against
# binaryFile's byte length — fixed to octet_length(encode(text)). The
# rest of this list is the tokenization/byte-path queries most exposed to
# the planted values, pinned as canaries.
EDGE_PROBED = [
    "q150_binaryfile_source",  # the find: chars != bytes on multibyte text
    "q159_seasonal_anomaly",  # the find: decimal-mean .5 tie (o_davg rule)
    "q30_array_words",
    "q35_text_stats",
    "q40_minhash_lsh_neardup",
    "q47_binary_payload",
    "q49_pandas_udf_tokens",
    "q72_repetition_quality",
    "q149_text_source",
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory, smoke_dir):
    """sf0.001 copy with empty/whitespace/multibyte text and an empty
    event_type planted at prime strides."""
    dst = str(tmp_path_factory.mktemp("edgeprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t == "documents":
            df = np_mod.inject_edges(
                pd.read_parquet(src), "text", np_mod.EDGE_DOC_TEXT, scale=1
            )
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        elif t == "events":
            df = np_mod.inject_edges(
                pd.read_parquet(src), "event_type", np_mod.EDGE_EVENT_TYPE, scale=1
            )
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def edge_oracle(edge_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{edge_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_PROBED)
def test_query_matches_oracle_on_edge_value_fixture(
    name, spark, edge_dir, edge_oracle
):
    res = compare(
        name, QUERIES[name](spark, edge_dir), edge_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- NaN tier: IEEE NaN in events.value (distinct from NULL) -----------
#
# r11 found the r10 NaN tier was a silent no-op: pandas' parquet writer
# converts float NaN to NULL (NaN is pandas' missing marker), so the
# "NaN" fixture actually re-probed the NULL class. The injector now goes
# through pyarrow (from_pandas=False) so true IEEE NaNs reach the file;
# the re-run sweep stayed green because the decimal aggregates exclude
# non-finite inputs like NULL (base._finite, r11). These canaries are
# the value-column consumers most exposed (extremal picks, moments,
# EWMA, percentiles), pinned so a future refactor that changes NaN
# handling on one side goes red here.
NAN_PROBED = [
    "q160_ohlc_bars",
    "q107_zscore_outliers",
    "q111_approx_percentile_diff",
    "q125_ewma",
    "q159_seasonal_anomaly",
    "q210_twap_per_user",
]


@pytest.fixture(scope="module")
def nan_dir(tmp_path_factory, smoke_dir):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = str(tmp_path_factory.mktemp("nanprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t == "events":
            tab = pq.read_table(src)
            v = tab.column("value").to_numpy(zero_copy_only=False).copy()
            v[:: np_mod.NAN_EVENT_VALUE_STRIDE] = np.nan
            arr = pa.array(v, from_pandas=False)
            assert arr.null_count == 0 and np.isnan(v).any(), (
                "true NaN must reach the file, not NULL"
            )
            tab = tab.set_column(
                tab.schema.get_field_index("value"), "value", arr
            )
            pq.write_table(tab, os.path.join(dst, f"{t}.parquet"))
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def nan_oracle(nan_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{nan_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", NAN_PROBED)
def test_query_matches_oracle_on_nan_value_fixture(
    name, spark, nan_dir, nan_oracle
):
    res = compare(
        name, QUERIES[name](spark, nan_dir), nan_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- empty-input tier: zero-row events/documents/embeddings ------------
#
# An empty shard/partition feeding an operator is routine at 100 TB.
# The full 241-query sweep on a schema-preserving empty fixture found
# six failures, all fixed: q59/q183 (late-batch staging crashed listing
# partition dirs an empty write never creates), q34 (schema inference
# over a fileless compacted dir), q105 (a zero-element literal centroid
# array types as VOID), q192 (NULL segment counts/estimates vs the
# oracle's zeros), q94 (DuckDB emits the SQL-standard rollup grand-total
# row on empty input; Spark doesn't — oracle now HAVING COUNT(*) > 0).
EMPTY_PROBED = [
    "q34_compact_fidelity",
    "q59_stream_late_drop",
    "q94_multires_rollup",
    "q105_kmeans_clusters",
    "q183_stream_windowed_topk",
    "q192_hll_intersection",
    # canaries: global aggregates and dedup on empty input
    "q39_exact_dedup",
    "q232_gini_spend",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory, smoke_dir):
    import pyarrow.parquet as pq

    dst = str(tmp_path_factory.mktemp("emptyprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t in ("events", "documents", "embeddings"):
            tab = pq.read_table(src)
            pq.write_table(tab.slice(0, 0), os.path.join(dst, f"{t}.parquet"))
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def empty_oracle(empty_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EMPTY_PROBED)
def test_query_matches_oracle_on_empty_tables_fixture(
    name, spark, empty_dir, empty_oracle
):
    res = compare(
        name, QUERIES[name](spark, empty_dir), empty_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- empty RELATIONAL shard: zero-row lineitem/orders -------------------
#
# The second empty sweep (fact tables emptied, dims kept) found eleven
# more, all fixed: rollup/cube/grouping-sets oracles emitted the SQL-
# standard grand-total row Spark never does (q94 rule); Holt sliced with
# negative length on a <2-point series; migrate fingerprinted a never-
# created destination; ANSI 0/0 crashes (referential orphan rate, lift
# with zero base rate -> try_divide/NULL like DuckDB); and NULL-vs-0
# empty-aggregate conventions (key-skew n_keys, dq-audit count_if,
# range-layout totals/fan-out invariant, corrupt-ingest counts).
EMPTY_REL_PROBED = [
    "q13_rollup",
    "q14_cube",
    "q33_migrate_fidelity",
    "q62_grouping_sets",
    "q137_key_skew_profile",
    "q145_dq_audit",
    "q180_range_clustered_layout",
    "q182_decile_lift",
    "q203_holt_forecast",
    "q205_referential_integrity",
    "q213_corrupt_json_ingest",
]


@pytest.fixture(scope="module")
def empty_rel_dir(tmp_path_factory, smoke_dir):
    import pyarrow.parquet as pq

    dst = str(tmp_path_factory.mktemp("emptyrel"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t in ("lineitem", "orders"):
            tab = pq.read_table(src)
            pq.write_table(tab.slice(0, 0), os.path.join(dst, f"{t}.parquet"))
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def empty_rel_oracle(empty_rel_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_rel_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EMPTY_REL_PROBED)
def test_query_matches_oracle_on_empty_relational_fixture(
    name, spark, empty_rel_dir, empty_rel_oracle
):
    res = compare(
        name, QUERIES[name](spark, empty_rel_dir), empty_rel_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- empty DIMENSION tier: zero-row region/nation/customer/supplier/part
#
# r10 covered empty facts (lineitem/orders) and empty entity tables
# (events/documents/embeddings); this tier flips the OTHER join side —
# broadcast builds become empty, FK inner joins annihilate, outer joins
# keep the fact side with NULLs, and any denominator counted off a dim
# is zero. The full 241-query r11 sweep on this fixture was green on
# the first pass (zero finds — the r10 hardening generalized); these
# canaries pin the classes an empty dim stresses hardest.
EMPTY_DIM_PROBED = [
    "q04_broadcast_join",       # broadcast build side is empty
    "q05_revenue_by_nation",    # multi-dim FK chain annihilates
    "q06_outer_join_order_counts",  # left side empty, outer semantics
    "q08_semi_anti_customers",  # semi/anti against an empty dim
    "q17_intersect_except",     # set ops with one empty input
    "q165_revenue_concentration",
    "q169_market_share",        # share-of-total denominator off dims
    "q193_top_supplier",
    "q209_profit_by_nation_year",
]


@pytest.fixture(scope="module")
def empty_dim_dir(tmp_path_factory, smoke_dir):
    import pyarrow.parquet as pq

    dst = str(tmp_path_factory.mktemp("emptydim"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t in np_mod.DIM_TABLES:
            tab = pq.read_table(src)
            pq.write_table(tab.slice(0, 0), os.path.join(dst, f"{t}.parquet"))
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def empty_dim_oracle(empty_dim_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_dim_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EMPTY_DIM_PROBED)
def test_query_matches_oracle_on_empty_dimension_fixture(
    name, spark, empty_dim_dir, empty_dim_oracle
):
    res = compare(
        name, QUERIES[name](spark, empty_dim_dir), empty_dim_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- duplicate-key/ordering-tie tier -------------------------------------
#
# Equal ts within a user (distinct event_ids), duplicate doc texts under
# distinct doc_ids, duplicate embedding vectors under distinct ids — the
# one asymmetry class value injection can't force: an ORDER BY / rank /
# min_by/max_by / top-k cut without a full tie-break diverges between
# engines ONLY on data like this. Full 241-query r11 sweeps at sf0.001
# AND sf0.01 were green on the first pass (the repo-wide (ts, event_id)
# / (score, id) tie-break discipline held); these canaries pin the most
# tie-sensitive paths.
TIES_PROBED = [
    # events: equal ts within user
    "q10_asof_click_to_view",
    "q106_event_transitions",
    "q127_session_concurrency",
    "q160_ohlc_bars",           # first/last by ts within bar
    "q167_linear_attribution",
    "q210_twap_per_user",       # lead over (ts, event_id)
    # documents: duplicate texts, distinct ids
    "q39_exact_dedup",
    "q64_dedup_canonical",
    "q85_dedup_keep_best",      # rank ties on identical docs
    # embeddings: duplicate vectors, distinct ids
    "q44_cosine_topk",          # tie scores at the top-k cut
    "q69_signlsh_neardup",
]


@pytest.fixture(scope="module")
def ties_dir(tmp_path_factory, smoke_dir):
    dst = str(tmp_path_factory.mktemp("tiesprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t in ("events", "documents", "embeddings"):
            df, n = np_mod.inject_ties(pd.read_parquet(src), t, scale=1)
            assert n > 0, f"{t}: tie injection selected no rows"
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def ties_oracle(ties_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{ties_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", TIES_PROBED)
def test_query_matches_oracle_on_ties_fixture(name, spark, ties_dir, ties_oracle):
    res = compare(
        name, QUERIES[name](spark, ties_dir), ties_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


def test_ties_injection_creates_duplicates(smoke_dir):
    """The tie injector must actually create duplicate (user_id, ts)
    pairs / duplicate texts / duplicate vectors — otherwise the tier
    silently tests nothing."""
    ev, _ = np_mod.inject_ties(
        pd.read_parquet(os.path.join(smoke_dir, "events.parquet")), "events", 1
    )
    assert ev.duplicated(["user_id", "ts"]).sum() > 0
    dc, _ = np_mod.inject_ties(
        pd.read_parquet(os.path.join(smoke_dir, "documents.parquet")),
        "documents",
        1,
    )
    assert dc.duplicated(["text"]).sum() > 0
    em, _ = np_mod.inject_ties(
        pd.read_parquet(os.path.join(smoke_dir, "embeddings.parquet")),
        "embeddings",
        1,
    )
    assert em["embedding"].map(tuple).duplicated().sum() > 0

# --- extreme-numerics tier -------------------------------------------------
#
# Legal-but-extreme values the generators never draw: -0.0, ±1e15,
# subnormal 5e-324 and +inf in events.value; an embedded NUL byte and a
# ~20 KB document; a JSON number past double range in events.props. The
# r11 full-fixture sweep found 24 failures in two systemic classes, all
# fixed in the shared helpers (queries/base.py):
#
#   * CAST(inf AS DECIMAL) is a DuckDB error AND a Spark-4-ANSI error —
#     one corrupt row would kill every decimal-sum job at 100 TB. The
#     decimal aggregates now exclude non-finite inputs like NULL
#     (_finite / o_finite), symmetrically on both engines.
#   * double↔DECIMAL conversions diverge between the engines once the
#     scaled value leaves 2^53 (Spark converts via the shortest decimal
#     repr; DuckDB scales through doubles/int128 and double-rounds).
#     Every per-term conversion, aggregate-output conversion, and bare
#     double ROUND is now magnitude-branched (dterm/_dec_out/dround and
#     their o_ mirrors): full precision below the cap, whole units
#     above, bit-identical in both regimes.
#
# Plus two domain rules: q210 widened its weighted-sum decimal from
# (19,6) (1e15 · µs overflowed it), and the squared-moment queries
# (q107/q159) exclude |v| beyond their exact-moment envelope
# symmetrically, like non-finite.
EXTREME_PROBED = [
    # the dsum crash class (inf → decimal) + output-conversion class
    "q34_compact_fidelity",
    "q53_json_roundtrip",
    "q81_sessionize_batch",
    "q54_stream_tumbling",
    "q189_stream_complete_totals",
    # per-term round-then-decimal-sum pattern at ±1e15
    "q167_linear_attribution",
    "q215_decay_attribution",
    "q218_first_last_touch",
    # weighted/windowed second-level aggregates
    "q99_rolling_7day",
    "q125_ewma",
    "q177_cusum_changepoint",
    "q235_cohort_ltv",
    "q210_twap_per_user",
    # moment-domain rules
    "q107_zscore_outliers",
    "q124_mad_outliers",
    "q159_seasonal_anomaly",
    "q176_linear_interpolation",
    # NUL byte / long doc / overflow JSON consumers
    "q35_text_stats",
    "q40_minhash_lsh_neardup",
    "q31_json_funcs",
]


@pytest.fixture(scope="module")
def extreme_dir(tmp_path_factory, smoke_dir):
    dst = str(tmp_path_factory.mktemp("extremeprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t == "events":
            df = pd.read_parquet(src)
            df = np_mod.inject_edges(df, "value", np_mod.EXTREME_EVENT_VALUE, 1)
            df = np_mod.inject_edges(df, "props", np_mod.EXTREME_EVENT_PROPS, 1)
            assert (df["value"] == float("inf")).any()
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        elif t == "documents":
            df = pd.read_parquet(src)
            df = np_mod.inject_edges(df, "text", np_mod.EXTREME_DOC_TEXT, 1)
            assert df["text"].str.contains("\x00").any()
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def extreme_oracle(extreme_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{extreme_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EXTREME_PROBED)
def test_query_matches_oracle_on_extreme_fixture(
    name, spark, extreme_dir, extreme_oracle
):
    res = compare(
        name, QUERIES[name](spark, extreme_dir), extreme_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )

# --- boundary-timestamp tier ----------------------------------------------
#
# --mode=time plants 1 µs before epoch, epoch 0, a leap day, and a
# year-end .999999 µs in events.ts. The r11 sweep found two classes:
#
#   * DATA-DERIVED dense grids explode: gap-fill/interpolation build
#     every hour between the observed per-key MIN(ts) and MAX(ts), so a
#     single epoch-era timestamp turns an O(active-hours) grid into
#     O(calendar-hours-since-epoch) — measured as a single-core
#     multi-hour hang at sf0.001, a guaranteed job-killer at 100 TB.
#     Grid builders now bound their domain (queries.base TS_LO/TS_HI,
#     the explicit-bounds rule production gapfill APIs impose).
#   * Spark's event-time watermark is ZERO-INITIALIZED: pre-epoch rows
#     are structurally late in the first batch and get dropped by
#     windowed aggregates, dedup state, and join state while a batch
#     oracle keeps them (10 watermarked queries diverged on one 1969
#     row). streaming.jobs.watermarked() now applies the valid-domain
#     filter at the watermark boundary, mirrored by O_TS_DOMAIN in the
#     oracles.
#
# Every calendar/date-function path (date_trunc, EXTRACT, epoch_us,
# strftime, week cohorts, leap day) agreed between the engines on the
# first pass — the probe pins that too.
TIME_PROBED = [
    # grid builders (domain-bounded)
    "q95_gap_fill_locf",
    "q176_linear_interpolation",
    # watermarked streaming (pre-epoch-late rule)
    "q54_stream_tumbling",
    "q57_stream_dedup",
    "q79_stream_stream_join",
    "q148_stream_stream_left_join",
    "q183_stream_windowed_topk",
    "q60_stream_custom_state",
    # calendar-path canaries (agreed on first pass)
    "q100_cohort_retention",
    "q127_session_concurrency",
    "q235_cohort_ltv",
]


@pytest.fixture(scope="module")
def time_dir(tmp_path_factory, smoke_dir):
    dst = str(tmp_path_factory.mktemp("timeprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t == "events":
            df = pd.read_parquet(src)
            for stride, iso in np_mod.TIME_EVENT_TS.items():
                df.loc[df.index[::stride], "ts"] = pd.Timestamp(iso)
            assert (df["ts"] < pd.Timestamp("1970-01-02")).any()
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def time_oracle(time_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{time_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", TIME_PROBED)
def test_query_matches_oracle_on_boundary_ts_fixture(
    name, spark, time_dir, time_oracle
):
    res = compare(
        name, QUERIES[name](spark, time_dir), time_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )

# --- degenerate-vector tier --------------------------------------------------
#
# --mode=vec plants all-zero vectors (norm 0 → cosine is a hard ANSI
# DIVIDE_BY_ZERO — six similarity queries crashed), true NaN / +inf
# components (pyarrow path; pandas converts NaN to NULL even inside
# LIST elements), ±1e30 magnitudes (kmeans' decimal moment sums
# overflowed at 6.4e61), float32 subnormals, and per-element NULLs
# (which also NULLed Spark's whole-array folds while DuckDB's list_sum
# skipped them — q29). Fixes: a shared valid-vector rule
# (queries.base vec_valid / o_vec_valid: non-NULL, every component
# finite with |x| < 1e15, norm > 0) applied at every similarity /
# clustering / quantization entry point and mirrored in the oracles —
# extending r10's NULL-vector exclusion to every degenerate shape —
# plus NULL-element skip semantics and magnitude-capped rounds in the
# array-function battery.
VEC_PROBED = [
    "q29_array_funcs",
    "q43_embedding_neardup",
    "q44_cosine_topk",
    "q45_ivf_topk",
    "q69_signlsh_neardup",
    "q76_embedding_quantize",
    "q105_kmeans_clusters",
    "q119_hard_negatives",
    "q211_embedding_covariance",
]


@pytest.fixture(scope="module")
def vec_dir(tmp_path_factory, smoke_dir):
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = str(tmp_path_factory.mktemp("vecprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t == "embeddings":
            tab = pq.read_table(src)
            vecs = tab.column("embedding").to_pylist()
            for stride, kind in np_mod.VEC_STRIDES.items():
                for i in range(0, len(vecs), stride):
                    v = [float(x) for x in vecs[i]]
                    if kind == "z":
                        v = [0.0] * len(v)
                    elif kind == "n":
                        v[0] = math.nan
                    elif kind == "i":
                        v[0] = math.inf
                    elif kind == "b":
                        v = [1e30 if x >= 0 else -1e30 for x in v]
                    elif kind == "s":
                        v = [1e-40] * len(v)
                    elif kind == "e":
                        v[0] = None
                    vecs[i] = v
            arr = pa.array(vecs, type=pa.list_(pa.float32()), from_pandas=False)
            assert any(
                x is not None and math.isnan(x)
                for vrow in arr.to_pylist()
                for x in (vrow or [])
            ), "true NaN components must reach the file"
            tab = tab.set_column(
                tab.schema.get_field_index("embedding"), "embedding", arr
            )
            pq.write_table(tab, os.path.join(dst, f"{t}.parquet"))
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def vec_oracle(vec_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{vec_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", VEC_PROBED)
def test_query_matches_oracle_on_degenerate_vector_fixture(
    name, spark, vec_dir, vec_oracle
):
    res = compare(
        name, QUERIES[name](spark, vec_dir), vec_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )

# --- money-column extreme tier ---------------------------------------------
#
# --mode=money plants ±1e15 / -0.0 / +inf in lineitem.l_extendedprice,
# orders.o_totalprice and customer.c_acctbal, a discount > 1, and a
# negative quantity — the TPC-H measure columns the events-only extreme
# mode never reaches. First sweep: 31 failures. Fix classes:
#
#   * ~50 HANDWRITTEN oracle `SUM(CAST(x AS DECIMAL(38,6)))` sites and
#     their Spark twins folded into the shared dterm/o_dterm guard, and
#     their output conversions into _dec_out/o_dec_out (one inf crashed
#     DuckDB AND one ±1e15 diverged the low digits above 2^53).
#   * Binning/int-cast guards: clamp BEFORE the integer cast (q104/q228
#     histograms), NULL floor/ceil for non-finite (q27), a clamped
#     argmax tie-key (q136), an explicit positive-finite Benford domain
#     (q195).
#   * The squared-moment family (gini/lorenz/acf/seasonality/neyman/
#     correlation) declares the q107/q159 exact-moment domain
#     (|v| < 1e9) and excludes beyond-domain rows symmetrically.
#   * One genuine ordering-tie bug: DuckDB's round(x, -3) maps inf/NaN
#     to 0 while Spark propagates — q20's rank coarsening now guards
#     non-finite prices so both engines order them at the extremes.
MONEY_PROBED = [
    "q01_pricing_summary",
    "q06_outer_join_order_counts",
    "q20_window_rank",
    "q21_window_analytic",
    "q27_math_funcs",
    "q66_pivot",
    "q104_histogram",
    "q116_exact_correlation",
    "q136_agg_battery_modern",
    "q165_revenue_concentration",
    "q169_market_share",
    "q185_share_of_total",
    "q194_forecast_revenue",
    "q195_benford_digits",
    "q196_daily_acf",
    "q203_holt_forecast",
    "q227_neyman_sample",
    "q228_psi_drift",
    "q232_gini_spend",
    "q240_lorenz_curve",
]


@pytest.fixture(scope="module")
def money_dir(tmp_path_factory, smoke_dir):
    dst = str(tmp_path_factory.mktemp("moneyprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t in np_mod.MONEY_INJECT:
            df = pd.read_parquet(src)
            for col, plan in np_mod.MONEY_INJECT[t].items():
                for stride, value in plan.items():
                    df.loc[df.index[::stride], col] = value
            assert any(
                (df[c] == float("inf")).any()
                for c in np_mod.MONEY_INJECT[t]
                if df[c].dtype.kind == "f"
            ) or t == "lineitem"
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def money_oracle(money_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{money_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", MONEY_PROBED)
def test_query_matches_oracle_on_money_extreme_fixture(
    name, spark, money_dir, money_oracle
):
    res = compare(
        name, QUERIES[name](spark, money_dir), money_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )

# --- Unicode-confusable / mixed-script tier (round 12) ----------------------
#
# --mode=confuse replaces documents.text on strided rows with Cyrillic
# lookalikes + a full-width Latin token, an NFC/NFD normalization twin
# pair, zero-width chars glued inside tokens, an RTL run mixed with
# Latin, and a combining-mark stack — the input class a real web corpus
# is full of and the pure-ASCII fixtures never draw. First sweep:
# 240/241, one find:
#
#   * q48_media_features: the engine's fake feature extractor reads
#     payload[0] — the first UTF-8 BYTE of the media blob — while the
#     oracle used ascii(substring(text,1,1)), the first CHARACTER's
#     codepoint. Identical on ASCII, divergent on every non-ASCII
#     leading char (ש → byte 215 vs codepoint 1513). Oracle now
#     re-derives the UTF-8 leading byte from the codepoint.
#
# Everything else held: shingle/token/lang-id/fingerprint paths are
# codepoint-consistent between Spark and DuckDB (both operate on
# unnormalized Unicode strings; neither NFC-normalizes, so the NFC/NFD
# twins stay distinct in BOTH engines — pinned here as canaries).
CONFUSE_PROBED = [
    "q48_media_features",
    "q84_frame_sample",
    "q35_text_stats",
    "q36_corpus_quality_profile",
    "q37_lang_id",
    "q38_doc_fingerprint",
    "q40_minhash_lsh_neardup",
    "q41_simhash",
    "q42_ngram_jaccard",
    "q64_dedup_canonical",
    "q71_decontaminate",
    "q72_repetition_quality",
    "q75_pii_redaction",
    "q103_chunk_documents",
    "q110_inverted_index",
    "q118_unigram_logprob",
    "q126_pmi_bigrams",
    "q130_token_ids",
    "q133_bm25_topk",
    "q134_token_entropy",
    "q142_shingle_containment",
    "q149_text_source",
    "q174_boilerplate_coverage",
    "q175_bigram_lm_interp",
    "q201_rake_keywords",
    "q226_vocab_coverage",
    # r12 additions built FOR this input class: NFC audit + homoglyph
    # skeleton dedup (the 5 injected confusable docs must cluster).
    "q242_unicode_normalize",
    "q243_confusable_skeleton_dedup",
]


@pytest.fixture(scope="module")
def confuse_dir(tmp_path_factory, smoke_dir):
    dst = str(tmp_path_factory.mktemp("confuseprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t == "documents":
            df = np_mod.inject_edges(
                pd.read_parquet(src), "text", np_mod.CONFUSE_DOC_TEXT, scale=1
            )
            # The injection must actually plant non-ASCII text.
            assert df["text"].map(
                lambda s: isinstance(s, str) and any(ord(c) > 127 for c in s)
            ).any()
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def confuse_oracle(confuse_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{confuse_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", CONFUSE_PROBED)
def test_query_matches_oracle_on_confusable_text_fixture(
    name, spark, confuse_dir, confuse_oracle
):
    res = compare(
        name, QUERIES[name](spark, confuse_dir), confuse_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- hot-key skew tier (round 12) -------------------------------------------
#
# --mode=skew rewrites every 37th lineitem row's l_orderkey and every
# 31st event's user_id to the table's already-most-frequent key: one
# mega-basket order (~1/37 of ALL lines) and one mega-user (~1/31 of
# ALL events). Exercises the C(k,2) in-array pair expansion (q178),
# the skew-join path (q61), per-key windows/sessions on one giant
# partition, and duplicate (l_orderkey, l_linenumber) pairs that the
# pristine fixtures' PK uniqueness hides.
SKEW_PROBED = [
    "q178_market_basket",
    "q61_salted_join",
    "q137_key_skew_profile",
    "q01_pricing_summary",
    "q05_revenue_by_nation",
    "q18_dedup_keep_first",
    "q23_topk_per_group",
    "q81_sessionize_batch",
    "q101_funnel_stages",
    "q106_event_transitions",
    "q125_ewma",
    "q127_session_concurrency",
    "q143_event_paths",
    "q160_ohlc_bars",
    "q210_twap_per_user",
    "q222_key_sequence_gaps",
]


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory, smoke_dir):
    dst = str(tmp_path_factory.mktemp("skewprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t in ("lineitem", "events"):
            df = pd.read_parquet(src)
            key, stride = (
                ("l_orderkey", np_mod.SKEW_LINEITEM_STRIDE)
                if t == "lineitem"
                else ("user_id", np_mod.SKEW_EVENT_STRIDE)
            )
            hot = df[key].mode().iloc[0]
            df.loc[df.index[::stride], key] = hot
            assert (df[key] == hot).sum() >= len(df) // stride
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def skew_oracle(skew_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{skew_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SKEW_PROBED)
def test_query_matches_oracle_on_hot_key_skew_fixture(
    name, spark, skew_dir, skew_oracle
):
    res = compare(
        name, QUERIES[name](spark, skew_dir), skew_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- hostile scalar-input tier (round 12, r11-verdict item 7) ----------------
#
# --mode=hostile breaks two fixture-wide assumptions: every c_name is
# "Customer#<digits>" (injected: embedded NUL bytes, a '#'-less name,
# a double-'#' name) and every l_quantity is a small positive number
# (injected: 1e154, -1e155, -1.0). First sweep: 13 failures —
# overwhelmingly ANSI job-killers, the worst class at 100 TB:
#
#   * q24: plain element_at(split(name,'#'), 2) is an ANSI
#     ArrayIndexOutOfBounds crash on a '#'-less name; DuckDB
#     split_part returns ''. Now try_element_at + coalesce('').
#   * q27: price/(quantity+1) is an ANSI DIVIDE_BY_ZERO crash at
#     quantity = -1. Now try_divide, NULL-divisor CASE in the oracle.
#   * dterm/o_dterm's units branch admitted ANY finite value into a
#     DECIMAL(38,0) cast — one 1e154 quantity crashed BOTH engines
#     (q01/q11/q14/q19/q33/q62/q92/q93/q156/q207/q209...). The branch
#     now enforces the documented |x| < 2^53 exactness domain (NULL
#     beyond), in the helpers AND in the 121 frozen inline expansions
#     the r11 transformer left in oracle strings.
#   * q162: the HAVING SUM(l_quantity) > 300 threshold was guarded on
#     the Spark side only — qualifying sets diverged.
#   * q52: Spark CSV's default univocity trim treats every char
#     <= 0x20 as padding — an edge-NUL name silently lost its NUL
#     through the roundtrip. ignoreLeading/TrailingWhiteSpace now off
#     on both sides of the boundary (byte-faithful ingest).
HOSTILE_PROBED = [
    "q24_string_funcs",
    "q27_math_funcs",
    "q01_pricing_summary",
    "q11_agg_battery",
    "q14_cube",
    "q19_verify_fingerprint",
    "q33_migrate_fidelity",
    "q52_csv_roundtrip",
    "q62_grouping_sets",
    "q92_binned_range_join",
    "q93_observe_metrics",
    "q156_weighted_median",
    "q162_large_volume_orders",
    "q207_small_qty_revenue",
    "q209_profit_by_nation_year",
]


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory, smoke_dir):
    dst = str(tmp_path_factory.mktemp("hostileprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t in ("customer", "lineitem"):
            df = pd.read_parquet(src)
            col, plan = (
                ("c_name", np_mod.HOSTILE_CUSTOMER_NAME)
                if t == "customer"
                else ("l_quantity", np_mod.HOSTILE_LINEITEM_QTY)
            )
            for stride, value in plan.items():
                df.loc[df.index[::stride], col] = value
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def hostile_oracle(hostile_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{hostile_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", HOSTILE_PROBED)
def test_query_matches_oracle_on_hostile_scalar_fixture(
    name, spark, hostile_dir, hostile_oracle
):
    res = compare(
        name, QUERIES[name](spark, hostile_dir), hostile_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- boundary-date tier (round 12) -------------------------------------------
#
# --mode=date plants year-0001 / 9999-12-31 / Gregorian-gap-1582 /
# pre-epoch / leap-day instants into the RELATIONAL date columns
# (l_shipdate, o_orderdate) — the r11 time mode only reached events.ts.
# First sweep: **243/244 — one find**: Spark's date_format renders
# years beyond 9999 as ISO-expanded '+10000-01-30' while DuckDB's
# strftime emits '10000-01-30'; q26's add-then-format (the only
# arithmetic-then-render site) now declares the 4-digit-year domain
# (NULL beyond) symmetrically. Everything else held: both engines are
# proleptic Gregorian, so the 1582 gap and year-1 epochs agree, and
# the ship-date daily-series family has no unbounded grid to explode.
DATE_PROBED = [
    "q26_date_funcs",  # the find
    "q33_migrate_fidelity",
    "q99_rolling_7day",
    "q177_cusum_changepoint",
    "q186_late_shipment_orders",
    "q194_forecast_revenue",
    "q196_daily_acf",
    "q203_holt_forecast",
    "q209_profit_by_nation_year",
    "q219_fulfillment_latency",
    "q237_seasonality_strength",
    "q238_revenue_peaks",
]


@pytest.fixture(scope="module")
def date_dir(tmp_path_factory, smoke_dir):
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = str(tmp_path_factory.mktemp("dateprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t in np_mod.DATE_COLUMNS:
            tab = pq.read_table(src)
            col = np_mod.DATE_COLUMNS[t]
            vals = tab.column(col).to_pylist()
            for stride, parts in np_mod.DATE_BOUNDARY.items():
                for i in range(0, len(vals), stride):
                    vals[i] = datetime(*parts)
            arr = pa.array(vals, type=pa.timestamp("us"))
            tab = tab.set_column(tab.schema.get_field_index(col), col, arr)
            pq.write_table(tab, os.path.join(dst, f"{t}.parquet"))
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def date_oracle(date_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{date_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", DATE_PROBED)
def test_query_matches_oracle_on_boundary_date_fixture(
    name, spark, date_dir, date_oracle
):
    res = compare(
        name, QUERIES[name](spark, date_dir), date_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- signed-key tier (round 12) ----------------------------------------------
#
# --mode=negkey plants -1 / -1000003 / ±2^62 into events.user_id. Full
# sweep: **245/245, zero finds** — DuckDB's // and % are C-style
# truncation exactly like Spark's div/% (verified -7//2 = -3, -7%2 =
# -1), and no key expression scales into int64 overflow. Pinned so a
# future floor-division oracle rewrite or key-scaling expression goes
# red here instead of shipping.
NEGKEY_PROBED = [
    "q73_hash_split",
    "q74_stratified_sample",
    "q106_event_transitions",
    "q127_session_concurrency",
    "q128_new_vs_returning",
    "q143_event_paths",
    "q184_forget_users",
    "q197_k_anonymity",
    "q210_twap_per_user",
    "q222_key_sequence_gaps",
]


@pytest.fixture(scope="module")
def negkey_dir(tmp_path_factory, smoke_dir):
    dst = str(tmp_path_factory.mktemp("negkeyprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t == "events":
            df = pd.read_parquet(src)
            for stride, v in np_mod.NEGKEY_USER_ID.items():
                df.loc[df.index[::stride], "user_id"] = v
            assert (df["user_id"] < 0).any()
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module")
def negkey_oracle(negkey_dir):
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{negkey_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", NEGKEY_PROBED)
def test_query_matches_oracle_on_signed_key_fixture(
    name, spark, negkey_dir, negkey_oracle
):
    res = compare(
        name, QUERIES[name](spark, negkey_dir), negkey_oracle, ORACLE[name]
    )
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- degenerate-cell tier (round 14) -----------------------------------------
#
# --mode=monolabel / --mode=uniqlabel rewrite embeddings.label to ONE
# cell / singleton cells. Label-family sweep: **14/14, zero finds** —
# trivial routing (crk<=2 over 1 cell), whole-corpus label blocks,
# all-zero residuals (PQ fit on identical points drops empty clusters
# identically in both engines, ranks are pure id tiebreaks), and
# empty label-block pair sets all agree. Pinned so a future routing
# rewrite that assumes >=2 cells, or a residual path that divides by
# within-cell variance, goes red here instead of shipping.
LABEL_PROBED = [
    "q43_embedding_neardup",
    "q45_ivf_topk",
    "q119_hard_negatives",
    "q248_embedding_meanpool",
    "q253_ivfpq_ann",
    "q256_ivfpq_residual_ann",
    "q249_semantic_dedup",
]


def _label_dir(tmp_path_factory, smoke_dir, mode):
    dst = str(tmp_path_factory.mktemp(f"{mode}probe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t == "embeddings":
            df = pd.read_parquet(src)
            dt = df["label"].dtype
            if mode == "monolabel":
                df["label"] = df["label"].iloc[0]
            else:
                df["label"] = df["vec_id"]
            df["label"] = df["label"].astype(dt)
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


@pytest.fixture(scope="module", params=["monolabel", "uniqlabel"])
def label_probe(request, tmp_path_factory, smoke_dir):
    d = _label_dir(tmp_path_factory, smoke_dir, request.param)
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet')"
        )
    yield d, con
    con.close()


@pytest.mark.parametrize("name", LABEL_PROBED)
def test_query_matches_oracle_on_degenerate_cells(name, spark, label_probe):
    d, con = label_probe
    res = compare(name, QUERIES[name](spark, d), con, ORACLE[name])
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )


# --- short-document tier (round 14) ------------------------------------------
#
# Every document shorter than the span window (K=8 tokens): the span
# tier's fan-out emits ZERO windows, so q252/q257 must return empty and
# q255 must pass every document through untouched (n_removed=0,
# kept_md5 = the doc's own lowercase token join) — the
# greatest(len-7,0) guard in the oracles and the size(t)>=K filter in
# span_windows must agree on the boundary.
SHORTDOC_PROBED = [
    "q252_span_dedup",
    "q255_span_removal",
    "q257_incremental_span_dedup",
]


@pytest.fixture(scope="module")
def shortdoc_probe(tmp_path_factory, smoke_dir):
    dst = str(tmp_path_factory.mktemp("shortdocprobe"))
    for t in np_mod.TABLES:
        src = os.path.join(smoke_dir, f"{t}.parquet")
        if t == "documents":
            df = pd.read_parquet(src)
            # 0..7 tokens, one NULL, one empty, one exactly K-1, and two
            # byte-identical 7-token twins (would be dup spans at K=7).
            texts = [None, "", "one", "a b c d e f g", "a b c d e f g"]
            df["text"] = [
                texts[i % len(texts)] for i in range(len(df))
            ]
            df.to_parquet(os.path.join(dst, f"{t}.parquet"), index=False)
        else:
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    con = duckdb.connect()
    for t in np_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{dst}/{t}.parquet')"
        )
    yield dst, con
    con.close()


@pytest.mark.parametrize("name", SHORTDOC_PROBED)
def test_span_tier_on_subwindow_documents(name, spark, shortdoc_probe):
    d, con = shortdoc_probe
    res = compare(name, QUERIES[name](spark, d), con, ORACLE[name])
    assert res.match, (
        f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})\n"
        + "\n".join(f"  spark={a!r}\n  duck ={b!r}" for a, b in res.mismatches)
    )
    if name != "q255_span_removal":
        assert res.spark_rows == 0, "sub-window docs must yield no spans"
