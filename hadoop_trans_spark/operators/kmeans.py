"""Deterministic k-means (Lloyd) over embedding columns, expressed as
DataFrame ops — the clustering path that upgrades IVF search
(operators/similarity.py cell_centroids) from label-defined cells to
learned cells, the PQ codebook fit (q251/q253/q256), and the classic
corpus-organization primitive (topic bucketing, stratified eval splits)
of a training-data pipeline.

One Lloyd core: ``kmeans_fit_fused`` runs S independent fits, one per
slice of a vector column (the PQ subspaces), as ONE (s)-keyed run;
``kmeans_fit`` is its one-slice case over a whole column.

Determinism contract (what makes this oracle-checkable across engines):
  * init = per slice, the k vectors with smallest ids, cluster ordinal
    = id rank — no RNG, no seed state;
  * distances rounded to 6 decimals BEFORE the argmin, ties broken on
    cluster ordinal — assignment is stable under fp noise;
  * centroid updates average through decimal (order-independent under
    any partitioning / AQE re-plan).

Physical shape per iteration: the k centroids of every slice are
collected to the driver (O(S·k·d) — report-sized, like a partition-key
listing) and burned into the assignment projection as LITERALS, so
assignment is a pure per-row expression — no join, no window, NO shuffle
of the corpus. The only exchange per iteration is the (s, cluster, dim)
hash aggregation of the centroid update, with map-side partials.
Per-vector work is O(k·d); the corpus is scanned once per iteration and
never pairwise-joined with itself. At 100 TB: iterate on a sample to
convergence, then one final assignment pass over the full corpus — same
operator, sampled input (``fit_sample_frac``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _dbl, dot, lit_doubles, vec_usable

DEC = "decimal(38,6)"


def update_centroids(assigned: DataFrame) -> DataFrame:
    """Mean vector per group of ``assigned``'s ``v`` column, grouped by
    every OTHER column — the fit passes (s, cluster, v), IVF cell
    routing (q253/q256) passes (cluster, v). Returns (keys..., c, c_sq).

    One (keys, dim) hash aggregation; means go through decimal then
    round(6) so the new centroids are bit-identical under any execution
    order."""
    keys = [c for c in assigned.columns if c != "v"]
    by_dim = assigned.select(*keys, F.posexplode("v").alias("pos", "val"))
    means = by_dim.groupBy(*keys, "pos").agg(
        F.round(F.sum(F.col("val").cast(DEC)) / F.count("val"), 6)
        .cast("double")
        .alias("m")
    )
    packed = means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda st: st["m"],
        ).alias("c")
    )
    return packed.select(*keys, "c", dot(F.col("c"), F.col("c")).alias("c_sq"))


def _assign(corpus: DataFrame, cents: dict[int, list]) -> DataFrame:
    """Nearest-centroid assignment over the (id, s, v, v_sq) corpus:
    (id, s, v, v_sq, cluster, d2).

    ``cents`` maps each slice ordinal to its centroid rows sorted by
    cluster; rows of slices without centroids are dropped. Squared
    distance = v_sq + c_sq - 2·dot with the single-vector terms hoisted;
    the row's slice picks its centroid array from the literals, so the
    argmin is array_min over a k-element projection — zero shuffle.
    array_position takes the FIRST index holding the min, which with the
    array ordered by cluster ordinal is exactly the (d2, cluster)
    tie-break. The cluster label is read from the winning struct's own
    ``cluster`` field, NOT the array index: if a cluster empties
    mid-run, update_centroids' groupBy simply omits its ordinal, and
    positional labeling would silently renumber every surviving cluster
    after it."""
    ok_s = sorted(cents)
    all_cents = F.array(
        *[
            F.array(
                *[
                    F.struct(
                        F.lit(int(r["cluster"])).alias("cluster"),
                        lit_doubles(r["c"]).alias("c"),
                        F.lit(float(r["c_sq"])).alias("c_sq"),
                    )
                    for r in cents[s]
                ]
            )
            for s in ok_s
        ]
    )
    idx = F.array_position(F.array(*[F.lit(s) for s in ok_s]), F.col("s"))
    cents_row = F.element_at(all_cents, idx.cast("int"))
    d2s = F.transform(
        cents_row,
        lambda st: F.round(
            F.col("v_sq") + st["c_sq"] - 2 * dot(F.col("v"), st["c"]), 6
        ),
    )
    return (
        corpus.where(F.col("s").isin(ok_s))
        .withColumn("_cents", cents_row)
        .withColumn("d2s", d2s)
        .withColumn("d2", F.array_min("d2s"))
        .withColumn(
            "cluster",
            F.element_at(
                F.col("_cents"),
                F.array_position(F.col("d2s"), F.col("d2")).cast("int"),
            )["cluster"],
        )
        .select("id", "s", "v", "v_sq", "cluster", "d2")
    )


def kmeans_assignments(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Run ``iters`` Lloyd iterations; return the final per-vector
    assignment (id, cluster, d2)."""
    return kmeans_fit(df, k=k, iters=iters, vec=vec, id_col=id_col)[0]


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec: str = "embedding",
    id_col: str = "vec_id",
    fit_sample_frac: float | None = None,
):
    """Like kmeans_assignments, but also returns the centroid rows the
    FINAL assignment used — (assignments_df, rows keyed cluster, c,
    c_sq). Consumers that need the fitted model read the centroids; the
    rows are k driver-side literals, never a distributed collect of
    data. The one-slice case of ``kmeans_fit_fused`` (see there for
    ``fit_sample_frac``)."""
    return kmeans_fit_fused(
        df,
        [F.col(vec)],
        k=k,
        iters=iters,
        id_col=id_col,
        fit_sample_frac=fit_sample_frac,
    )[0]


def kmeans_fit_fused(
    df: DataFrame,
    slices,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    fit_sample_frac: float | None = None,
):
    """S independent per-slice Lloyd fits fused into ONE (s)-keyed run:
    ``slices`` is a list of array Columns over ``df`` (e.g.
    ``F.slice("v", lo, n)`` per PQ subspace); returns
    ``[(assignments_df, centroid_rows), ...]`` in slice order, each the
    fit ``kmeans_fit`` gives on that slice alone (differential-tested in
    tests/test_analytics_ops.py).

    Why fuse: each separate fit scans the corpus once per action (init,
    per-iteration centroid update, final assignment) — S fits = S scans
    per action plus S materializations and S driver round-trips per
    iteration. Fused, the exploded (id, s, v, v_sq) working set is
    materialized ONCE from one scan of ``df``, every iteration runs ONE
    (s, cluster, dim) aggregation and ONE k·S-row collect for all
    slices, and the per-slice results are narrow projections of the
    shared checkpoint. Every step is order-free per (s, cluster), so
    fusing the grouping key changes nothing about the values.

    A missing vector has no cluster: NULL / non-finite / over-cap
    vectors are excluded per (id, s) after the slice explode, so a
    vector can be usable in one slice and not another (symmetric with
    the oracles' WHERE; unfiltered, a NULL in the seed rows crashed the
    driver-side centroid iteration — NULL-probe find, r10; a 1e30
    component overflows the decimal moment sums — r11). All-zero
    vectors stay IN: Euclidean distance is defined for them. A slice
    with no usable vector gets an empty typed assignment and no
    centroids.

    ``fit_sample_frac`` is the 100 TB path this module's header
    documents: Lloyd ITERATES on a deterministic hash-bucket sample
    (keep id iff pmod(xxhash64(id), 2^20) < frac·2^20 — no RNG, stable
    under any partitioning), then ONE assignment pass runs over the full
    corpus with the sample-fitted centroids. Iteration cost drops from
    O(iters·N·k·d) to O(iters·frac·N·k·d) + O(N·k·d). Init is
    first-k-by-id OF THE SAMPLE, so a sampled fit is a different (still
    deterministic) model than the full fit — tests/test_analytics_ops.py
    bounds their agreement. A slice whose sample holds fewer than k
    vectors falls back to its full corpus (a sample too small to seed
    is not a model)."""
    from .stage import materialize_stage

    S = len(slices)
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.array(*list(slices))).alias("s", "embedding"),
    ).where(vec_usable("embedding"))
    v = _dbl(F.col("embedding"))
    # Every iteration runs an action over the corpus (centroid update
    # collect, then the final assignment) — materialize the projected
    # working set once so the source scan + double-cast + norm happen
    # once, not once per action.
    corpus = materialize_stage(
        exploded.select("id", "s", v.alias("v"), dot(v, v).alias("v_sq"))
    )
    fit_corpus, sampled = corpus, False
    if fit_sample_frac is not None and fit_sample_frac < 1.0:
        cut = int(fit_sample_frac * (1 << 20))
        keep = F.pmod(F.xxhash64(F.col("id")), F.lit(1 << 20)) < cut
        sample = corpus.where(keep)
        counts = {
            int(r["s"]): r["n"]
            for r in sample.groupBy("s").agg(F.count("*").alias("n")).collect()
        }
        ok = [s for s in range(S) if counts.get(s, 0) >= k]
        if ok:
            in_ok = F.col("s").isin(ok)
            fit_corpus = materialize_stage(
                corpus.where((in_ok & keep) | ~in_ok)
            )
            sampled = True
    # First-k-by-id init PER SLICE. NOT a Window.partitionBy("s") rank:
    # that funnels each slice's whole corpus through ONE sort task (the
    # single-partition-window scale-killer this repo bans).
    # orderBy(id).limit(k) lowers to TakeOrderedAndProject — a parallel
    # partial top-k over the checkpoint — at the cost of S tiny driver
    # actions (k rows each), which only happen once per fit.
    cents: dict[int, list] = {}
    for s in range(S):
        rows = (
            fit_corpus.where(F.col("s") == s)
            .orderBy("id")
            .limit(k)
            .select("id", "v", F.col("v_sq").alias("c_sq"))
            .collect()
        )
        if rows:
            cents[s] = [
                {"s": s, "cluster": i, "c": r["v"], "c_sq": r["c_sq"]}
                for i, r in enumerate(sorted(rows, key=lambda r: r["id"]))
            ]
    if cents:
        assigned = _assign(fit_corpus, cents)
        for _ in range(iters - 1):
            cents = {}
            for r in sorted(
                update_centroids(assigned.select("s", "cluster", "v")).collect(),
                key=lambda r: (r["s"], r["cluster"]),
            ):
                cents.setdefault(int(r["s"]), []).append(r)
            assigned = _assign(fit_corpus, cents)
        if sampled:
            assigned = _assign(corpus, cents)
    out = []
    for s in range(S):
        if s in cents:
            a = assigned.where(F.col("s") == s).select("id", "cluster", "d2")
        else:
            # Nothing to seed from: an empty typed assignment rather
            # than a zero-element literal centroid array (F.array()
            # types as VOID and the transform lambda fails analysis —
            # empty-input probe find, r10).
            a = corpus.where(F.col("s") == s).select(
                "id",
                F.lit(None).cast("int").alias("cluster"),
                F.lit(None).cast("double").alias("d2"),
            )
        out.append((a, cents.get(s, [])))
    return out
